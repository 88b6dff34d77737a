package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.plans.GraftSql

/**
 * Oracle-gated SQL-front-door round-trips (the round-9 north star): every
 * gate drives the engine EXCLUSIVELY through `spark.sql` text against a
 * registered [[graft.sources.GraftCatalog]] table — CREATE TABLE AS,
 * INSERT, DELETE/UPDATE/MERGE INTO, VERSION AS OF — and returns a final
 * SELECT whose expected content DuckDB computes from the original parquet.
 * This is the SQL twin of the programmatic d-gates: same machinery
 * underneath ([[graft.plans.GraftDmlStrategy]] lowers the DML onto it),
 * but the user-visible surface is the one a Spark SQL user actually types.
 */
object SqlQueries {

  /** Fresh per-invocation table: bench reruns each gate; a fixed name would
    * make run 2 measure DROP+recreate races instead of the operation. */
  private def fresh(s: SparkSession, prefix: String): String = {
    val cat = GraftSql.ensure(s)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.sgates")
    s"$cat.sgates.${prefix}_${java.util.UUID.randomUUID().toString.replace("-", "")}"
  }

  /** Register the raw parquet as a unique temp view (CTAS source). */
  private def view(s: SparkSession, dir: String, name: String): String = {
    val v = s"${name}_src_${java.util.UUID.randomUUID().toString.take(8)}"
    val df = if (name == "events") Tables.events(s, dir) else Tables.t(s, dir, name)
    df.createOrReplaceTempView(v)
    v
  }

  /** DELETE FROM through SQL, survivors read back through the catalog. */
  def sqlDelete(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "del")
    val v = view(s, dir, "orders")
    s.sql(s"CREATE TABLE $t AS SELECT * FROM $v")
    s.sql(s"DELETE FROM $t WHERE o_orderstatus = 'F'")
    s.sql(s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM $t ORDER BY o_orderkey""".stripMargin)
  }

  /** UPDATE with an expression RHS over the old row. */
  def sqlUpdate(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "upd")
    val v = view(s, dir, "customer")
    s.sql(s"CREATE TABLE $t AS SELECT * FROM $v")
    s.sql(s"UPDATE $t SET c_acctbal = c_acctbal * 2 + 1 WHERE c_mktsegment = 'BUILDING'")
    s.sql(s"""SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
             |FROM $t ORDER BY c_custkey""".stripMargin)
  }

  /** MERGE INTO with UPDATE SET * / INSERT * (key-equality ON → the
    * key-join merge path): updates zero out every 10th order's price,
    * inserts re-keyed copies of every 100th. */
  def sqlMergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "mrg")
    val v = view(s, dir, "orders")
    s.sql(s"CREATE TABLE $t AS SELECT * FROM $v")
    s.sql(s"""MERGE INTO $t AS tgt
             |USING (
             |  SELECT o_orderkey, o_custkey, o_orderstatus,
             |         CAST(0 AS DOUBLE) AS o_totalprice, o_orderdate, o_orderpriority
             |  FROM $v WHERE o_orderkey % 10 = 0
             |  UNION ALL
             |  SELECT o_orderkey + 10000000000, o_custkey, o_orderstatus,
             |         CAST(-1 AS DOUBLE), o_orderdate, o_orderpriority
             |  FROM $v WHERE o_orderkey % 100 = 0
             |) AS src
             |ON tgt.o_orderkey = src.o_orderkey
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    s.sql(s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM $t ORDER BY o_orderkey""".stripMargin)
  }

  /** MERGE INTO with a cross-side UPDATE SET expression and no insert
    * branch (matched-only merge). */
  def sqlMergeExpr(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "mex")
    val v = view(s, dir, "customer")
    s.sql(s"CREATE TABLE $t AS SELECT * FROM $v")
    s.sql(s"""MERGE INTO $t AS tgt
             |USING (
             |  SELECT c_custkey, c_acctbal + 1000 AS boost
             |  FROM $v WHERE c_custkey % 7 = 0
             |) AS src
             |ON tgt.c_custkey = src.c_custkey
             |WHEN MATCHED THEN UPDATE SET c_acctbal = tgt.c_acctbal + src.boost""".stripMargin)
    s.sql(s"""SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
             |FROM $t ORDER BY c_custkey""".stripMargin)
  }

  /** Conditional multi-clause MERGE: DELETE / two conditional UPDATEs /
    * conditional INSERT, first-true-wins per row — the full SQL MERGE
    * clause algebra through one statement. */
  def sqlMergeClauses(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "mcl")
    val v = view(s, dir, "customer")
    s.sql(s"CREATE TABLE $t AS SELECT * FROM $v")
    s.sql(s"""MERGE INTO $t AS tgt
             |USING (
             |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
             |  FROM $v WHERE c_custkey % 3 = 0
             |  UNION ALL
             |  SELECT c_custkey + 10000000000, c_name, c_nationkey, c_acctbal, c_mktsegment
             |  FROM $v WHERE c_custkey % 50 = 0
             |) AS src
             |ON tgt.c_custkey = src.c_custkey
             |WHEN MATCHED AND tgt.c_mktsegment = 'BUILDING' THEN DELETE
             |WHEN MATCHED AND tgt.c_acctbal < 0 THEN UPDATE SET c_acctbal = 0
             |WHEN MATCHED THEN UPDATE SET c_acctbal = tgt.c_acctbal + 1
             |WHEN NOT MATCHED AND src.c_acctbal >= 0 THEN INSERT *""".stripMargin)
    s.sql(s"""SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
             |FROM $t ORDER BY c_custkey""".stripMargin)
  }

  /** Sync-to-source MERGE: UPDATE SET * on matches plus NOT MATCHED BY
    * SOURCE DELETE — after the statement the table IS the source. */
  def sqlMergeSync(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "msy")
    val v = view(s, dir, "customer")
    s.sql(s"CREATE TABLE $t AS SELECT * FROM $v")
    s.sql(s"""MERGE INTO $t AS tgt
             |USING (
             |  SELECT c_custkey, c_name, c_nationkey,
             |         c_acctbal + 10 AS c_acctbal, c_mktsegment
             |  FROM $v WHERE c_custkey % 4 = 1
             |) AS src
             |ON tgt.c_custkey = src.c_custkey
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    s.sql(s"""SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
             |FROM $t ORDER BY c_custkey""".stripMargin)
  }

  /** VERSION AS OF through SQL: CTAS (v0 create + v1 data), DELETE (v2),
    * then time-travel back to the pre-delete version. */
  def sqlTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "ttv")
    val v = view(s, dir, "part")
    s.sql(s"CREATE TABLE $t AS SELECT * FROM $v")
    s.sql(s"DELETE FROM $t WHERE p_size >= 20")
    s.sql(s"""SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
             |FROM $t VERSION AS OF 1 ORDER BY p_partkey""".stripMargin)
  }

  /** Partitioned CREATE TABLE through SQL, partition-pruned read back —
    * the SQL twin of the programmatic d5 gate: Hive layout on disk, the
    * equality predicate prunes to one partition's files before Spark
    * plans the scan. */
  def sqlPartitioned(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "prt")
    val v = view(s, dir, "events")
    s.sql(s"""CREATE TABLE $t (event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT,
             |  event_type STRING, value DOUBLE, props STRING)
             |PARTITIONED BY (event_type)""".stripMargin)
    s.sql(s"""INSERT INTO $t
             |SELECT event_id, ts, user_id, event_type, value, props FROM $v""".stripMargin)
    s.sql(s"""SELECT event_id, ts, user_id, event_type, value, props
             |FROM $t WHERE event_type = 'purchase' AND value > 50
             |ORDER BY event_id""".stripMargin)
  }

  /** Date-typed PARTITION column under a range filter (round 13) — the
    * canonical daily-table query shape at 100 TB: a table partitioned by
    * `event_date DATE` scanned with `event_date >= DATE'…'`. The scan
    * prunes out-of-range partitions at PLAN time from the log's partition
    * values (file skipping decides partition ranges exactly), so a year's
    * backfill reads only the requested days' files. The oracle re-derives the aggregate from the
    * raw events. */
  def sqlDatePartitionRange(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "dpr")
    val v = view(s, dir, "events")
    s.sql(s"""CREATE TABLE $t (event_id BIGINT, user_id BIGINT, value DOUBLE,
             |  event_date DATE) PARTITIONED BY (event_date)""".stripMargin)
    s.sql(s"""INSERT INTO $t
             |SELECT event_id, user_id, value, CAST(ts AS DATE) FROM $v""".stripMargin)
    s.sql(s"""SELECT event_date, count(*) AS n, min(event_id) AS min_id,
             |  max(event_id) AS max_id
             |FROM $t WHERE event_date >= DATE '2024-01-20'
             |GROUP BY event_date ORDER BY event_date""".stripMargin)
  }

  /** Timestamp-typed PARTITION column under EQUALITY (round 14) — pins the
    * round-13 regression where the canonical filter literal
    * ('2024-01-15T00:00:00.000000') never string-matched the Cast-rendered
    * partition path value ('2024-01-15 00:00:00'), so `WHERE ts_day =
    * TIMESTAMP '…'` pruned every file and silently returned ZERO rows.
    * Equality now routes through the same typed comparator as ranges; this
    * gate fails loudly (rows_match=false) if that ever regresses. */
  def sqlTimestampPartitionEq(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "tpe")
    val v = view(s, dir, "events")
    s.sql(s"""CREATE TABLE $t (event_id BIGINT, user_id BIGINT,
             |  event_type STRING, value DOUBLE, ts_day TIMESTAMP_NTZ)
             |PARTITIONED BY (ts_day)""".stripMargin)
    s.sql(s"""INSERT INTO $t
             |SELECT event_id, user_id, event_type, value,
             |  date_trunc('DAY', ts) FROM $v""".stripMargin)
    // UNION ALL of two scans so BOTH pushdown shapes hit the pruner:
    // a bare $eq and a multi-value $in (a 1-element IN would fold to =).
    s.sql(s"""SELECT * FROM (
             |  SELECT event_id, user_id, event_type, value
             |  FROM $t WHERE ts_day = TIMESTAMP_NTZ '2024-01-15 00:00:00'
             |  UNION ALL
             |  SELECT event_id, user_id, event_type, value
             |  FROM $t WHERE ts_day IN (TIMESTAMP_NTZ '2024-01-22 00:00:00',
             |                           TIMESTAMP_NTZ '2024-01-29 00:00:00')
             |) ORDER BY event_id""".stripMargin)
  }

  /** OR / LIKE-prefix / IS NULL partition pruning, end-to-end (round 14):
    * a string-partitioned table with NULL partitions
    * (`__HIVE_DEFAULT_PARTITION__` directories) scanned with
    * `LIKE 'p%' OR IS NULL` — the disjunctive prune path keeps exactly
    * the prefix-matching and null partitions at plan time; the result
    * must still be row-exact vs DuckDB. */
  def sqlOrPrefixNullPrune(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "opn")
    val v = view(s, dir, "events")
    s.sql(s"""CREATE TABLE $t (event_id BIGINT, user_id BIGINT,
             |  value DOUBLE, event_type STRING)
             |PARTITIONED BY (event_type)""".stripMargin)
    s.sql(s"""INSERT INTO $t
             |SELECT event_id, user_id, value, NULLIF(event_type, 'view')
             |FROM $v""".stripMargin)
    s.sql(s"""SELECT event_id, user_id, value, event_type
             |FROM $t
             |WHERE event_type LIKE 'p%' OR event_type IS NULL
             |ORDER BY event_id""".stripMargin)
  }

  /** Partition-filtered METADATA aggregate (round 14): on a partitioned
    * table, `COUNT/MIN/MAX ... WHERE <partition predicate>` folds the
    * matching files' log stats without scanning — the claimed-filter path
    * (Spark only pushes aggregates past an empty residual set, so the
    * exact per-file claim is what unblocks this). The oracle recomputes
    * from the raw rows, so a wrong metadata answer fails the gate. */
  def sqlAggClaimedFilter(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "acf")
    val v = view(s, dir, "events")
    s.sql(s"""CREATE TABLE $t (event_id BIGINT, user_id BIGINT,
             |  value DOUBLE, event_type STRING)
             |PARTITIONED BY (event_type)""".stripMargin)
    s.sql(s"""INSERT INTO $t
             |SELECT event_id, user_id, value, event_type FROM $v""".stripMargin)
    s.sql(s"""SELECT count(*) AS n, count(user_id) AS n_users,
             |  min(event_id) AS min_id, max(event_id) AS max_id
             |FROM $t WHERE event_type IN ('click', 'purchase')""".stripMargin)
  }

  /** Float-partitioned equality/IN (round 15): float literals arrive in
    * pushdown exact-widened (0.1f → 0.10000000149011612) while partition
    * paths carry the shortest decimal ("0.1") — the claim/prune comparators
    * must reconcile the two renderings or every file of a satisfied
    * equality is silently dropped. The aggregate-under-WHERE shape also
    * exercises the claimed metadata fold on a float partition column. */
  def sqlFloatPartitionEq(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "fpe")
    val v = view(s, dir, "events")
    s.sql(s"""CREATE TABLE $t (event_id BIGINT, user_id BIGINT,
             |  event_type STRING, fbucket FLOAT)
             |PARTITIONED BY (fbucket)""".stripMargin)
    // FLOOR (not CAST-to-int: Spark truncates, DuckDB rounds) buckets the
    // value into k*0.1 — decimal-exact in both engines, then one float
    // rounding — so the partition values are the epsilon-prone decimals.
    s.sql(s"""INSERT INTO $t
             |SELECT event_id, user_id, event_type,
             |  CAST(CAST(FLOOR(value) AS BIGINT) % 10 * 0.1 AS FLOAT)
             |FROM $v""".stripMargin)
    s.sql(s"""SELECT * FROM (
             |  SELECT count(*) AS n, min(event_id) AS min_id,
             |    max(event_id) AS max_id
             |  FROM $t WHERE fbucket = CAST(0.1 AS FLOAT)
             |  UNION ALL
             |  SELECT count(*), min(event_id), max(event_id)
             |  FROM $t WHERE fbucket IN (CAST(0.3 AS FLOAT), CAST(0.7 AS FLOAT))
             |) ORDER BY n""".stripMargin)
  }

  /** Double-partitioned ranges + equality (round 16, the DOUBLE twin of
    * s44): partition paths carry the column's shortest double rendering
    * ("0.30000000000000004" for bucket 3) while range literals arrive as
    * exact doubles — the prune/claim comparators must parse the PATH under
    * the column type (parse-then-compare as double), or a decimal-string
    * comparison mis-orders at $gte/$lte boundaries and equality drops
    * every file. The aggregate-under-WHERE arms also exercise the claimed
    * metadata fold on a double partition column. */
  def sqlDoublePartitionRange(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "dpr")
    val v = view(s, dir, "events")
    s.sql(s"""CREATE TABLE $t (event_id BIGINT, user_id BIGINT,
             |  event_type STRING, dbucket DOUBLE)
             |PARTITIONED BY (dbucket)""".stripMargin)
    // FLOOR (not CAST-to-int: Spark truncates, DuckDB rounds) buckets the
    // value into k*0.1 — decimal-exact in both engines, then ONE double
    // rounding — so the partition values are the epsilon-prone decimals
    // (3 → 0.30000000000000004's neighbor, rendered shortest in the path).
    s.sql(s"""INSERT INTO $t
             |SELECT event_id, user_id, event_type,
             |  CAST(CAST(FLOOR(value) AS BIGINT) % 10 * 0.1 AS DOUBLE)
             |FROM $v""".stripMargin)
    s.sql(s"""SELECT * FROM (
             |  SELECT count(*) AS n, min(event_id) AS min_id,
             |    max(event_id) AS max_id
             |  FROM $t WHERE dbucket = CAST(0.3 AS DOUBLE)
             |  UNION ALL
             |  SELECT count(*), min(event_id), max(event_id)
             |  FROM $t WHERE dbucket >= CAST(0.55 AS DOUBLE)
             |    AND dbucket <= CAST(0.85 AS DOUBLE)
             |) ORDER BY n""".stripMargin)
  }

  /** Multi-join through a CLAIMED graft scan (round 16): the fact table
    * lives in the engine, partitioned on o_orderpriority; the WHERE is a
    * partition equality the DSv2 scan claims, so the join planner sees the
    * EXACT post-claim statistics ([[graft.sources.GraftBatchScan]] stats
    * reporting) for the ~1/5 surviving slice — broadcast selection off
    * claimed metadata, not whole-table estimates. 5 relations total
    * (lineitem, graft orders, customer, nation + the aggregate). */
  def sqlJoinClaimedStats(s: SparkSession, dir: String): DataFrame = {
    val t1 = fresh(s, "jcs")
    val vOrd = view(s, dir, "orders")
    val vLi = view(s, dir, "lineitem")
    val vCust = view(s, dir, "customer")
    val vNat = view(s, dir, "nation")
    s.sql(s"""CREATE TABLE $t1 (o_orderkey BIGINT, o_custkey BIGINT,
             |  o_totalprice DOUBLE, o_orderpriority STRING)
             |PARTITIONED BY (o_orderpriority)""".stripMargin)
    s.sql(s"""INSERT INTO $t1
             |SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
             |FROM $vOrd""".stripMargin)
    s.sql(s"""SELECT n_name, count(*) AS n,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS sum_price
             |FROM $vLi l
             |JOIN $t1 o ON l.l_orderkey = o.o_orderkey
             |JOIN $vCust c ON o.o_custkey = c.c_custkey
             |JOIN $vNat n ON c.c_nationkey = n.n_nationkey
             |WHERE o.o_orderpriority = '1-URGENT'
             |GROUP BY n_name ORDER BY n_name""".stripMargin)
  }

  /** Distributed metadata fold (round 16, the threshold=1 twin of s43):
    * with `spark.graft.distributedSnapshotThreshold=1` and a checkpoint
    * base, the aggregate-under-claimed-WHERE answers through the
    * distributed fold ([[graft.delta.DistributedSnapshot.foldAggregates]])
    * — per-file contributions merged on executors, no claimed file list on
    * the driver. The result is materialized INSIDE the threshold window
    * (the driver contract re-executes returned plans later, when the
    * session conf is already restored) and returned as a local frame. */
  def sqlAggDistributedFold(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "adf")
    val v = view(s, dir, "events")
    s.conf.set("spark.graft.distributedSnapshotThreshold", "1")
    try {
      s.sql(s"""CREATE TABLE $t (event_id BIGINT, user_id BIGINT,
               |  value DOUBLE, event_type STRING)
               |PARTITIONED BY (event_type)""".stripMargin)
      s.sql(s"""INSERT INTO $t
               |SELECT event_id, user_id, value, event_type FROM $v""".stripMargin)
      // the distributed reconstruction needs a checkpoint base
      val wh = graft.plans.GraftSql.warehousePath(s).get
      val tdir = (wh +: t.split('.').drop(1).toSeq).mkString("/")
      graft.delta.DeltaTable.forPath(s, tdir).checkpoint()
      val out = s.sql(s"""SELECT count(*) AS n, count(user_id) AS n_users,
               |  min(event_id) AS min_id, max(event_id) AS max_id
               |FROM $t WHERE event_type IN ('click', 'purchase')""".stripMargin)
      val rows = out.collect().toIndexedSeq
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        out.schema)
    } finally s.conf.unset("spark.graft.distributedSnapshotThreshold")
  }

  /** Zoned-timestamp partition round-trip under a NON-UTC session
    * (round 15): the write must lay the partition directories out in the
    * engine's canonical UTC rendering regardless of
    * `spark.sql.session.timeZone`, or the UTC read side reconstitutes
    * values 8 hours off and the equality filter silently returns zero
    * rows. The timestamp literal resolves to an instant at parse time
    * (inside the LA session), so the later execution is TZ-independent. */
  def sqlTzPartitionWrite(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "tzp")
    val v = view(s, dir, "events")
    val prev = s.conf.get("spark.sql.session.timeZone")
    s.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      s.sql(s"""CREATE TABLE $t (event_id BIGINT, user_id BIGINT,
               |  event_type STRING, ts_day TIMESTAMP)
               |PARTITIONED BY (ts_day)""".stripMargin)
      s.sql(s"""INSERT INTO $t
               |SELECT event_id, user_id, event_type,
               |  CAST(date_trunc('DAY', ts) AS TIMESTAMP) FROM $v""".stripMargin)
      s.sql(s"""SELECT count(*) AS n, min(event_id) AS min_id,
               |  max(event_id) AS max_id
               |FROM $t WHERE ts_day = TIMESTAMP '2024-01-15 00:00:00'""".stripMargin)
    } finally s.conf.set("spark.sql.session.timeZone", prev)
  }

  /** `INSERT INTO ... REPLACE WHERE` (Delta's replaceWhere): ONE commit
    * atomically swaps the `o_orderstatus = 'O'` region for a reloaded
    * slice of it — the idempotent-backfill primitive. Rows outside the
    * region are untouched; the write itself verifies every inserted row
    * satisfies the region predicate. */
  def sqlReplaceWhere(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "rpw")
    val v = view(s, dir, "orders")
    s.sql(s"CREATE TABLE $t AS SELECT * FROM $v")
    s.sql(s"""INSERT INTO $t REPLACE WHERE o_orderstatus = 'O'
             |SELECT o_orderkey + 50000000, o_custkey, o_orderstatus,
             |       o_totalprice * 2, o_orderdate, 'RELOADED'
             |FROM $v WHERE o_orderstatus = 'O' AND o_orderkey % 2 = 0""".stripMargin)
    s.sql(s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM $t ORDER BY o_orderkey""".stripMargin)
  }

  /** Dynamic partition overwrite (`partitionOverwriteMode=dynamic`): one
    * commit replaces exactly the partitions the input carries rows for —
    * the daily-reload primitive for a partitioned table. 'click' and
    * 'purchase' are reloaded (filtered + transformed); every other
    * event_type partition must survive byte-for-byte. */
  def sqlDynamicOverwrite(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "dyn")
    val v = view(s, dir, "events")
    s.sql(s"""CREATE TABLE $t (event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT,
             |  event_type STRING, value DOUBLE, props STRING)
             |PARTITIONED BY (event_type)""".stripMargin)
    s.sql(s"""INSERT INTO $t
             |SELECT event_id, ts, user_id, event_type, value, props FROM $v""".stripMargin)
    val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try
      s.sql(s"""INSERT OVERWRITE $t
               |SELECT event_id + 9000000, ts, user_id, event_type,
               |       value * 10, 'reloaded'
               |FROM $v
               |WHERE event_type IN ('click', 'purchase') AND value >= 10""".stripMargin)
    finally prev match {
      case Some(p) => s.conf.set("spark.sql.sources.partitionOverwriteMode", p)
      case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    s.sql(s"""SELECT event_id, ts, user_id, event_type, value, props
             |FROM $t ORDER BY event_id""".stripMargin)
  }

  /** The text-function family through pure SQL text: `graft_token_count`
    * and `graft_fingerprint` expand to the same codegen'd expressions the
    * programmatic t-gates use; DuckDB reproduces both (split-count, md5 of
    * normalized text), so the whole row set oracles exactly. */
  def sqlTextFunctions(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "fns")
    val v = view(s, dir, "documents")
    s.sql(s"CREATE TABLE $t AS SELECT doc_id, lang, text FROM $v")
    s.sql(s"""SELECT doc_id, lang, graft_token_count(text) AS n_tokens,
             |  graft_fingerprint(text) AS fp
             |FROM $t
             |WHERE graft_token_count(text) >= 40
             |ORDER BY doc_id""".stripMargin)
  }

  /** INSERT OVERWRITE replaces the table contents in one commit. */
  def sqlInsertOverwrite(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "iow")
    val v = view(s, dir, "part")
    s.sql(s"CREATE TABLE $t AS SELECT * FROM $v")
    s.sql(s"INSERT OVERWRITE $t SELECT * FROM $v WHERE p_size > 25")
    s.sql(s"""SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
             |FROM $t ORDER BY p_partkey""".stripMargin)
  }

  /** Change feed through the SQL table function: CTAS with CDF enabled,
    * INSERT + DELETE through SQL, then `graft_table_changes` reads the
    * captured change rows — the d7 sequence with every step SQL text. */
  def sqlTableChanges(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "cdf")
    val v = view(s, dir, "events")
    // versions: 0 = create, 1 = CDF property, 2 = CTAS rows
    s.sql(s"""CREATE TABLE $t TBLPROPERTIES ('delta.enableChangeDataFeed'='true')
             |AS SELECT * FROM $v WHERE event_type = 'view'""".stripMargin)
    s.sql(s"INSERT INTO $t SELECT * FROM $v WHERE event_type = 'click'") // v3
    s.sql(s"DELETE FROM $t WHERE value < 5") // v4
    val ref = t.stripPrefix(s"${GraftSql.CatalogName}.")
    s.sql(s"""SELECT _change_type, event_id, user_id, event_type, value
             |FROM graft_table_changes('$ref', 3, 4)
             |ORDER BY _change_type, event_id""".stripMargin)
  }

  /** Expression INSERT lists + MULTIPLE conditional NOT MATCHED clauses
    * (round-10 generality): a matched expression update, then three
    * first-true-wins insert clauses with explicit column lists — columns
    * omitted from a winning clause's list land NULL (SQL semantics). */
  def sqlMergeInsertExpr(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "mie")
    val v = view(s, dir, "part")
    s.sql(s"CREATE TABLE $t AS SELECT * FROM $v")
    s.sql(s"""MERGE INTO $t AS tgt
             |USING (
             |  SELECT CASE WHEN p_partkey % 8 = 0 THEN p_partkey
             |              ELSE p_partkey + 5000000 END AS k,
             |         p_size AS sz, p_retailprice AS pr
             |  FROM $v WHERE p_partkey % 4 = 0
             |) AS src
             |ON tgt.p_partkey = src.k
             |WHEN MATCHED THEN UPDATE SET p_retailprice = src.pr + src.sz
             |WHEN NOT MATCHED AND src.sz >= 30 THEN
             |  INSERT (p_partkey, p_size, p_retailprice) VALUES (src.k, src.sz + 100, src.pr * 2)
             |WHEN NOT MATCHED AND src.sz >= 10 THEN
             |  INSERT (p_partkey, p_size) VALUES (src.k, src.sz)
             |WHEN NOT MATCHED THEN
             |  INSERT (p_partkey, p_retailprice) VALUES (src.k, -src.pr)""".stripMargin)
    s.sql(s"""SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
             |FROM $t ORDER BY p_partkey""".stripMargin)
  }

  /** Differently-named merge keys (`ON tgt.c_custkey = src.src_key`) with
    * a conditional clause chain — an ordinary equi-join merge even though
    * the two sides share no column names (round-10 generality). */
  def sqlMergeRenamedKeys(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "mrk")
    val v = view(s, dir, "customer")
    s.sql(s"CREATE TABLE $t AS SELECT * FROM $v")
    s.sql(s"""MERGE INTO $t AS tgt
             |USING (
             |  SELECT c_custkey AS src_key, c_acctbal AS bal
             |  FROM $v WHERE c_custkey % 5 = 0
             |) AS src
             |ON tgt.c_custkey = src.src_key
             |WHEN MATCHED AND tgt.c_acctbal < 0 THEN DELETE
             |WHEN MATCHED THEN UPDATE SET c_acctbal = tgt.c_acctbal + src.bal""".stripMargin)
    s.sql(s"""SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
             |FROM $t ORDER BY c_custkey""".stripMargin)
  }

  /** Subquery predicate in DELETE (round-10 generality): the reference-era
    * "delete what matches this other collection" shape, lowered to the
    * join-shaped merge core (never a collected IN-list). */
  def sqlDeleteSubquery(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "dsq")
    val v = view(s, dir, "orders")
    val cv = view(s, dir, "customer")
    s.sql(s"CREATE TABLE $t AS SELECT * FROM $v")
    s.sql(s"""DELETE FROM $t
             |WHERE o_custkey IN (SELECT c_custkey FROM $cv WHERE c_mktsegment = 'BUILDING')
             |  AND o_totalprice < 100000""".stripMargin)
    s.sql(s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM $t ORDER BY o_orderkey""".stripMargin)
  }

  /** `MERGE ... WITH SCHEMA EVOLUTION` (round-10): the source carries a
    * column the target lacks; the merge widens the table additively
    * (metadata-only), matched rows take the new column from the source,
    * pre-existing unmatched rows read it as NULL. */
  def sqlMergeSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "mse")
    val v = view(s, dir, "customer")
    s.sql(s"CREATE TABLE $t AS SELECT c_custkey, c_name, c_acctbal FROM $v")
    s.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $t AS tgt
             |USING (
             |  SELECT c_custkey, c_name, c_acctbal + 5 AS c_acctbal, c_nationkey
             |  FROM $v WHERE c_custkey % 3 = 0
             |  UNION ALL
             |  SELECT c_custkey + 10000000000, c_name, c_acctbal, c_nationkey
             |  FROM $v WHERE c_custkey % 40 = 0
             |) AS src
             |ON tgt.c_custkey = src.c_custkey
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    s.sql(s"""SELECT c_custkey, c_name, c_acctbal, c_nationkey
             |FROM $t ORDER BY c_custkey""".stripMargin)
  }

  /** Correlated EXISTS / NOT EXISTS predicates in DML (round-10): the
    * analyzer pulls the correlation equality into the subquery's joinCond;
    * both verbs lower onto the join-shaped merge core (matched clause for
    * EXISTS, not-matched-by-source for NOT EXISTS). */
  def sqlDmlExists(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "dex")
    val v = view(s, dir, "orders")
    val cv = view(s, dir, "customer")
    s.sql(s"CREATE TABLE $t AS SELECT * FROM $v")
    s.sql(s"""DELETE FROM $t
             |WHERE EXISTS (SELECT 1 FROM $cv c
             |              WHERE c.c_custkey = $t.o_custkey AND c.c_acctbal < 0)""".stripMargin)
    s.sql(s"""UPDATE $t SET o_orderpriority = 'STALE'
             |WHERE NOT EXISTS (SELECT 1 FROM $cv c
             |                  WHERE c.c_custkey = $t.o_custkey
             |                    AND c.c_mktsegment = 'BUILDING')""".stripMargin)
    s.sql(s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM $t ORDER BY o_orderkey""".stripMargin)
  }

  /** NOT IN (subquery) DELETE (round-10): anti-join lowering with the
    * null-probe guard; the subquery side here is null-free so the verb
    * behaves as a plain anti-join — the null no-op twin is spec-covered. */
  def sqlDeleteNotIn(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "dni")
    val v = view(s, dir, "part")
    s.sql(s"CREATE TABLE $t AS SELECT * FROM $v")
    s.sql(s"""DELETE FROM $t
             |WHERE p_partkey NOT IN (SELECT p_partkey FROM $v WHERE p_size <= 30)""".stripMargin)
    s.sql(s"""SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
             |FROM $t ORDER BY p_partkey""".stripMargin)
  }

  /** RESTORE through the `graft_restore` TVF (round-10): CTAS, destructive
    * DELETE, then roll back to the pre-delete version — the final state
    * must be bit-identical to the original table, which is exactly what
    * the oracle recomputes. Also drives `graft_history` (version lookup)
    * through SQL. */
  def sqlRestore(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "rst")
    val v = view(s, dir, "orders")
    s.sql(s"CREATE TABLE $t AS SELECT * FROM $v")
    val ref = t.split('.').drop(1).mkString(".")
    val v0 = s.sql(s"SELECT max(version) FROM graft_history('$ref')")
      .head().getLong(0)
    s.sql(s"DELETE FROM $t WHERE o_totalprice > 100000 OR o_orderstatus = 'F'")
    s.sql(s"SELECT * FROM graft_restore('$ref', $v0)").collect()
    s.sql(s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM $t ORDER BY o_orderkey""".stripMargin)
  }

  /** Exact dedup through the `graft_dedup` TVF (round-10): duplicate the
    * whole table with a second INSERT, dedup back down, and read the
    * survivors — one copy of every original row. */
  def sqlDedup(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "ddp")
    val v = view(s, dir, "customer")
    s.sql(s"CREATE TABLE $t AS SELECT * FROM $v")
    s.sql(s"INSERT INTO $t SELECT * FROM $v")
    val ref = t.split('.').drop(1).mkString(".")
    s.sql(s"SELECT * FROM graft_dedup('$ref')").collect()
    s.sql(s"""SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
             |FROM $t ORDER BY c_custkey""".stripMargin)
  }

  /** Uncorrelated scalar subqueries in DML (round-10): folded to literals
    * by one driver-side evaluation, then run through the plain
    * (join-free, file-pruned) DELETE/UPDATE cores. Thresholds derive from
    * `max` (exact — no summation-order drift), so Spark and DuckDB compute
    * bit-identical doubles and the comparison classifies rows identically. */
  /** Correlated scalar subqueries in DML: a zero-tuple-correct COUNT
    * delete (orders with no lineitems go — unmatched keys see 0, not
    * NULL) then a per-key aggregate assignment (max keeps the compare
    * bit-stable across engines). Lowered to the clause-chain merge on the
    * correlation key — matched rows read the subquery value through the
    * source side, unmatched rows its zero-tuple substitution. */
  def sqlCorrelatedScalar(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "scs")
    val o = view(s, dir, "orders")
    val l = view(s, dir, "lineitem")
    s.sql(s"CREATE TABLE $t AS SELECT * FROM $o")
    s.sql(s"""DELETE FROM $t WHERE
             |  (SELECT count(*) FROM $l WHERE $l.l_orderkey = $t.o_orderkey) = 0""".stripMargin)
    s.sql(s"""UPDATE $t SET o_totalprice =
             |  (SELECT max(l_extendedprice) FROM $l WHERE $l.l_orderkey = $t.o_orderkey)""".stripMargin)
    s.sql(s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM $t ORDER BY o_orderkey""".stripMargin)
  }

  /** Correlated IN in DML: membership tested per correlation group (here,
    * "my lang is among the langs that have a >540-char doc in MY source"),
    * lowered to one multi-key semi-join merge — correlation pairs join
    * alongside the probe pair, no per-group re-execution anywhere. */
  def sqlCorrelatedIn(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "sci")
    val d = view(s, dir, "documents")
    s.sql(s"CREATE TABLE $t AS SELECT doc_id, lang, source, n_chars FROM $d")
    s.sql(s"""DELETE FROM $t WHERE lang IN
             |  (SELECT d.lang FROM $d AS d
             |   WHERE d.source = $t.source AND d.n_chars > 540)""".stripMargin)
    s.sql(s"SELECT doc_id, lang, source, n_chars FROM $t ORDER BY doc_id")
  }

  /** TWO subquery conjuncts, one of them under OR (round-10 generality):
    * the specialized single-conjunct lowerings refuse this shape, so it
    * routes through the general fallback — Spark's own subquery planner
    * evaluates the whole predicate (semi-joins, no nested loop) and the
    * admitted rows drive the pruned merge core by full-row matching. */
  def sqlDeleteOrSubquery(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "dos")
    val o = view(s, dir, "orders")
    val c = view(s, dir, "customer")
    val l = view(s, dir, "lineitem")
    s.sql(s"CREATE TABLE $t AS SELECT * FROM $o")
    s.sql(s"""DELETE FROM $t
             |WHERE (o_custkey IN (SELECT c_custkey FROM $c
             |                     WHERE c_mktsegment = 'BUILDING')
             |       OR o_totalprice > 250000)
             |  AND EXISTS (SELECT 1 FROM $l li
             |              WHERE li.l_orderkey = $t.o_orderkey
             |                AND li.l_quantity >= 45)""".stripMargin)
    s.sql(s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM $t ORDER BY o_orderkey""".stripMargin)
  }

  /** Correlated NOT IN with an EXPRESSION correlation (round-10
    * generality): per-row membership lists keyed by `c_custkey % 5` — a
    * shape no key-join lowering expresses (Spark itself plans it as a
    * null-aware anti join), routed through the general fallback. The
    * inner side is the 25-row nation table, so the planner's nested-loop
    * anti join is 25 comparisons per row — the fallback inherits exactly
    * the plan the same predicate costs in a SELECT. */
  def sqlCorrelatedNotIn(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "cni")
    val c = view(s, dir, "customer")
    val n = view(s, dir, "nation")
    s.sql(s"""CREATE TABLE $t AS
             |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
             |FROM $c""".stripMargin)
    s.sql(s"""DELETE FROM $t
             |WHERE c_nationkey NOT IN
             |  (SELECT n.n_nationkey FROM $n n
             |   WHERE n.n_regionkey = $t.c_custkey % 5
             |     AND n.n_nationkey < 20)""".stripMargin)
    s.sql(s"""SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
             |FROM $t ORDER BY c_custkey""".stripMargin)
  }

  /** Metadata-only aggregate pushdown (round 10): COUNT(*)/COUNT(col)/
    * MIN/MAX over an unfiltered graft table are answered from the log's
    * per-file stats without scheduling a scan
    * ([[graft.delta.StatsAggregates]]); the second table takes a
    * deletion-vector DELETE first, so its COUNT(*) must subtract the DV
    * cardinality exactly. Values must equal DuckDB computing the same
    * aggregates the slow way — the pushdown is invisible except in cost
    * (AggPushdownSpec proves the files are never read). o_totalprice
    * (double) is deliberately absent: NaN-unsafe min/max refuse pushdown.
    * The third table is PARTITIONED BY its status column: its aggregates
    * fold `partitionValues` instead of stats (exact under DVs too). */
  def sqlAggPushdown(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "agp")
    val t2 = fresh(s, "agpdv")
    val t3 = fresh(s, "agppart")
    val o = view(s, dir, "orders")
    s.sql(s"CREATE TABLE $t AS SELECT * FROM $o")
    s.sql(s"CREATE TABLE $t2 AS SELECT * FROM $o")
    s.sql(s"CREATE TABLE $t3 (o_orderkey BIGINT, o_orderstatus STRING) " +
      "PARTITIONED BY (o_orderstatus)")
    s.sql(s"INSERT INTO $t3 SELECT o_orderkey, o_orderstatus FROM $o")
    s.conf.set("spark.graft.sql.dml.mor", "true")
    try s.sql(s"DELETE FROM $t2 WHERE o_orderstatus = 'F'")
    finally s.conf.unset("spark.graft.sql.dml.mor")
    s.sql(s"""SELECT a.cnt, a.cnt_status, a.min_key, a.max_key,
             |  a.min_date, a.max_date, a.min_prio, a.max_prio, b.cnt_after_dv,
             |  c.min_part_status, c.max_part_status, c.cnt_part_status
             |FROM (SELECT COUNT(*) AS cnt, COUNT(o_orderstatus) AS cnt_status,
             |        MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
             |        MIN(o_orderdate) AS min_date, MAX(o_orderdate) AS max_date,
             |        MIN(o_orderpriority) AS min_prio, MAX(o_orderpriority) AS max_prio
             |      FROM $t) a
             |CROSS JOIN (SELECT COUNT(*) AS cnt_after_dv FROM $t2) b
             |CROSS JOIN (SELECT MIN(o_orderstatus) AS min_part_status,
             |        MAX(o_orderstatus) AS max_part_status,
             |        COUNT(o_orderstatus) AS cnt_part_status
             |      FROM $t3) c""".stripMargin)
  }

  /** GROUP-BY-partition aggregate pushdown (round 10): one row per
    * partition group, COUNT/MIN/MAX folded from the log's per-file stats
    * and `partitionValues` ([[graft.delta.StatsAggregates.Fold]]),
    * after a deletion-vector DELETE empties one partition entirely — that
    * group must VANISH (SQL emits no empty groups) and the surviving
    * counts must subtract DV cardinalities exactly. DuckDB computes the
    * same result the slow way over the original parquet. */
  def sqlAggGroupBy(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "agg")
    val o = view(s, dir, "orders")
    s.sql(s"CREATE TABLE $t (o_orderkey BIGINT, o_custkey BIGINT, " +
      "o_orderstatus STRING) PARTITIONED BY (o_orderstatus)")
    s.sql(s"INSERT INTO $t SELECT o_orderkey, o_custkey, o_orderstatus FROM $o")
    s.conf.set("spark.graft.sql.dml.mor", "true")
    try s.sql(s"DELETE FROM $t WHERE o_orderstatus = 'P'")
    finally s.conf.unset("spark.graft.sql.dml.mor")
    s.sql(s"""SELECT o_orderstatus, COUNT(*) AS cnt, MIN(o_orderkey) AS min_key,
             |  MAX(o_orderkey) AS max_key, COUNT(o_custkey) AS cnt_cust
             |FROM $t GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** Bloom-indexed point DELETE (round 10): the table property enables
    * per-file bloom sidecars ([[graft.delta.BloomIndex]]) BEFORE the
    * insert, so the point deletes prune their file lists through blooms
    * (zone maps cannot — the insert hash-distributes doc_id, every file
    * spans the key space). The oracle sees only values; BloomIndexSpec
    * proves the skipping and its never-lose-a-row property. */
  def sqlBloomDelete(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "blm")
    val d = view(s, dir, "documents")
    s.sql(s"CREATE TABLE $t AS SELECT doc_id, text, lang, source, n_chars FROM $d WHERE 1=0")
    s.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('graft.bloomFilter.columns'='doc_id')")
    s.sql(s"INSERT INTO $t SELECT doc_id, text, lang, source, n_chars FROM $d")
    s.sql(s"DELETE FROM $t WHERE doc_id = 17")
    s.sql(s"DELETE FROM $t WHERE doc_id IN (101, 202, 303)")
    s.sql(s"SELECT doc_id, lang, source, n_chars FROM $t ORDER BY doc_id")
  }

  /** LIMIT pushdown (round 10): an un-filtered LIMIT trims the planned
    * file list to a survivor-covering log-order prefix
    * ([[graft.sources.DeltaRelation.trimForLimit]]); the observable
    * contract — exactly k rows come back, all of them real table rows —
    * is what the oracle can check (LIMIT picks arbitrary rows, so the
    * gate aggregates the limited subquery into deterministic values;
    * LimitPushdownSpec proves the trimming physically). */
  def sqlLimit(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "lim")
    val o = view(s, dir, "orders")
    s.sql(s"CREATE TABLE $t AS SELECT * FROM $o")
    s.sql(s"""SELECT COUNT(*) AS cnt, COUNT(DISTINCT o_orderkey) AS dk,
             |  MIN(o_orderkey IN (SELECT o_orderkey FROM $t)) AS all_keys_real
             |FROM (SELECT o_orderkey FROM $t LIMIT 100)""".stripMargin)
  }

  /** TOP-N pushdown (round 10): `ORDER BY key LIMIT k` trims the planned
    * file list to the zone-map cover of the k extreme rows
    * ([[graft.delta.StatsAggregates.topNPrefix]]) — deterministic here
    * because the sort key is unique, so the values must match DuckDB
    * exactly in both directions (TopNPushdownSpec proves the trimming
    * physically by deleting the non-cover files). */
  def sqlTopN(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "tpn")
    val o = view(s, dir, "orders")
    s.sql(s"CREATE TABLE $t AS SELECT * FROM $o")
    s.sql(s"""SELECT lo.o_orderkey AS lo_key, lo.o_orderstatus AS lo_status,
             |  hi.o_orderkey AS hi_key, hi.o_orderstatus AS hi_status
             |FROM (SELECT o_orderkey, o_orderstatus,
             |        ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn
             |      FROM (SELECT * FROM $t ORDER BY o_orderkey LIMIT 25)) lo
             |JOIN (SELECT o_orderkey, o_orderstatus,
             |        ROW_NUMBER() OVER (ORDER BY o_orderkey DESC) AS rn
             |      FROM (SELECT * FROM $t ORDER BY o_orderkey DESC LIMIT 25)) hi
             |  ON lo.rn = hi.rn
             |ORDER BY lo.o_orderkey""".stripMargin)
  }

  /** TRUNCATE TABLE (one overwrite commit, zero adds) then refill: the
    * final state must equal the refill alone — any pre-truncate row
    * surviving, or the schema changing, breaks the oracle. */
  def sqlTruncate(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "trc")
    val v = view(s, dir, "orders")
    s.sql(s"CREATE TABLE $t AS SELECT * FROM $v")
    s.sql(s"TRUNCATE TABLE $t")
    s.sql(s"INSERT INTO $t SELECT * FROM $v WHERE o_orderstatus = 'O'")
    s.sql(s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM $t ORDER BY o_orderkey""".stripMargin)
  }

  def sqlScalarSubquery(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "ssc")
    val v = view(s, dir, "orders")
    s.sql(s"CREATE TABLE $t AS SELECT * FROM $v")
    s.sql(s"DELETE FROM $t WHERE o_totalprice > (SELECT 0.5 * max(o_totalprice) FROM $v)")
    s.sql(s"""UPDATE $t SET o_orderpriority = 'LOW'
             |WHERE o_totalprice < (SELECT 0.05 * max(o_totalprice) FROM $v)""".stripMargin)
    s.sql(s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM $t ORDER BY o_orderkey""".stripMargin)
  }

  /** Column DEFAULT values (round 11): CREATE TABLE carries them, an
    * omitted column in an INSERT column list fills the default at
    * ANALYSIS time (materialized into the written rows — reads never
    * consult it), and ALTER COLUMN SET DEFAULT changes only FUTURE
    * statements. Three insert eras, each pinned by the oracle. */
  def sqlColumnDefaults(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "dfl")
    val v = view(s, dir, "orders")
    s.sql(s"CREATE TABLE $t (o_orderkey BIGINT, " +
      "o_orderpriority STRING DEFAULT 'BACKFILL', flag STRING DEFAULT 'fresh')")
    s.sql(s"INSERT INTO $t (o_orderkey) SELECT o_orderkey FROM $v WHERE o_orderkey % 5 = 0")
    s.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderpriority, 'explicit' FROM $v WHERE o_orderkey % 5 = 1")
    s.sql(s"ALTER TABLE $t ALTER COLUMN o_orderpriority SET DEFAULT 'LATE'")
    s.sql(s"ALTER TABLE $t ALTER COLUMN flag SET DEFAULT 'v2'")
    s.sql(s"INSERT INTO $t (o_orderkey) SELECT o_orderkey FROM $v WHERE o_orderkey % 5 = 2")
    s.sql(s"SELECT o_orderkey, o_orderpriority, flag FROM $t ORDER BY o_orderkey")
  }

  /** CLUSTER BY (round 11): the layout intent declared at CREATE drives a
    * no-argument `graft_zorder(t)` re-cluster; every row survives the
    * rewrite bit-exactly and range predicates on the clustering keys read
    * the same answer (the PHYSICAL effect — fewer planned files — is
    * asserted in ClusterBySpec; an oracle can only see data). */
  def sqlClusterBy(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "cby")
    val v = view(s, dir, "orders")
    s.sql(s"CREATE TABLE $t (o_orderkey BIGINT, o_custkey BIGINT, " +
      "o_totalprice DOUBLE, o_orderstatus STRING) CLUSTER BY (o_custkey, o_totalprice)")
    s.sql(s"INSERT INTO $t SELECT o_orderkey, o_custkey, o_totalprice, " +
      s"o_orderstatus FROM $v")
    s.sql(s"SELECT * FROM graft_zorder('$t')").collect()
    s.sql(s"""SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
             |FROM $t WHERE o_custkey % 10 = 3 AND o_totalprice > 50000
             |ORDER BY o_orderkey""".stripMargin)
  }

  /** Native `ALTER COLUMN ... SET NOT NULL` (round 16): the SQL-standard
    * tighten verb Spark's own analyzer refuses for every V2 table, reached
    * here through [[graft.plans.GraftAlterNotNullRule]] (session-extension
    * resolution rule — no TVF). The gate proves the full contract through
    * the native verb alone: tightening REFUSES while NULLs exist (the
    * distributed census proof), succeeds once they're patched, ENFORCES on
    * the next write (a NULL insert refuses atomically, nothing commits),
    * and `DROP NOT NULL` relaxes natively so NULLs flow again — which is
    * the final state the oracle can see.
    * Reference: schema nullability is advisory-only there
    * (/root/reference/src/delta/types.ts:493 `optional`); enforcement is
    * this engine's extension via the auto-managed CHECK constraint. */
  def sqlSetNotNull(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "snn")
    val v = view(s, dir, "orders")
    s.sql(s"CREATE TABLE $t (o_orderkey BIGINT, o_orderpriority STRING)")
    s.sql(s"INSERT INTO $t SELECT o_orderkey, CASE WHEN o_orderkey % 7 = 0 " +
      s"THEN NULL ELSE o_orderpriority END FROM $v")
    def isValidation(e: Throwable): Boolean = e != null &&
      (e.isInstanceOf[graft.delta.ValidationException] || isValidation(e.getCause))
    val refused =
      try { s.sql(s"ALTER TABLE $t ALTER COLUMN o_orderpriority SET NOT NULL"); false }
      catch { case e: Throwable => isValidation(e) }
    require(refused, "native SET NOT NULL must refuse while NULLs exist")
    s.sql(s"UPDATE $t SET o_orderpriority = 'BACKFILL' WHERE o_orderpriority IS NULL")
    s.sql(s"ALTER TABLE $t ALTER COLUMN o_orderpriority SET NOT NULL")
    val enforced =
      try { s.sql(s"INSERT INTO $t VALUES (0, NULL)"); false }
      catch { case _: Throwable => true }
    require(enforced, "tightened column must enforce on write")
    s.sql(s"ALTER TABLE $t ALTER COLUMN o_orderpriority DROP NOT NULL")
    s.sql(s"INSERT INTO $t VALUES (-1, NULL)")
    s.sql(s"SELECT o_orderkey, o_orderpriority, " +
      s"(o_orderpriority IS NULL) AS went_null FROM $t ORDER BY o_orderkey")
  }

  /** Idempotent file-level ingest (round 11, COPY INTO analog): the first
    * `graft_ingest` loads every source file, the second is a NO-OP (the
    * loaded-file identities ride each ingest commit), so the table equals
    * exactly one copy of the source — which is what the oracle checks. */
  def sqlIngest(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "ing")
    val v = view(s, dir, "orders")
    val src = java.nio.file.Files.createTempDirectory("graft-ingest-gate").toString
    s.table(v).repartition(4).write.mode("overwrite").parquet(src)
    s.sql(s"CREATE TABLE $t AS SELECT * FROM $v WHERE 1=0")
    s.sql(s"SELECT * FROM graft_ingest('$t', '$src')").collect()
    s.sql(s"SELECT * FROM graft_ingest('$t', '$src')").collect() // no-op
    s.sql(s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderpriority
             |FROM $t ORDER BY o_orderkey""".stripMargin)
  }

  /** Generated columns (round 12): CREATE TABLE ... GENERATED ALWAYS AS,
    * INSERT omitting them computes the expression into every written row
    * (write-time materialization — reads never evaluate it), and UPDATE
    * recomputes over the post-image. The oracle re-derives both columns
    * from the base data, so any row the engine failed to (re)compute
    * hash-mismatches. */
  def sqlGeneratedColumns(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "gen")
    val v = view(s, dir, "orders")
    s.sql(s"CREATE TABLE $t (o_orderkey BIGINT, o_totalprice DOUBLE, " +
      "price_band BIGINT GENERATED ALWAYS AS " +
      "(CAST(floor(o_totalprice / 10000) AS BIGINT)), " +
      "key_tag STRING GENERATED ALWAYS AS " +
      "(concat('k', CAST(o_orderkey % 7 AS STRING))))")
    s.sql(s"INSERT INTO $t (o_orderkey, o_totalprice) " +
      s"SELECT o_orderkey, o_totalprice FROM $v")
    s.sql(s"UPDATE $t SET o_totalprice = o_totalprice * 2 WHERE o_orderkey % 10 = 0")
    s.sql(s"""SELECT o_orderkey, o_totalprice, price_band, key_tag
             |FROM $t ORDER BY o_orderkey""".stripMargin)
  }

  /** Identity columns (round 12): GENERATED ALWAYS AS IDENTITY assigns
    * lattice values from the high-water mark across two appends. The
    * INSERT's ORDER BY makes assignment order deterministic (allocation
    * follows the sorted global row order), so the oracle can re-derive
    * every value with row_number() — pairing included, not just the set. */
  def sqlIdentityColumns(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "idn")
    val v = view(s, dir, "orders")
    s.sql(s"CREATE TABLE $t (rid BIGINT GENERATED ALWAYS AS IDENTITY " +
      "(START WITH 1000 INCREMENT BY 2), o_orderkey BIGINT, o_totalprice DOUBLE)")
    s.sql(s"INSERT INTO $t (o_orderkey, o_totalprice) " +
      s"SELECT o_orderkey, o_totalprice FROM $v WHERE o_orderkey % 2 = 0 " +
      "ORDER BY o_orderkey")
    s.sql(s"INSERT INTO $t (o_orderkey, o_totalprice) " +
      s"SELECT o_orderkey, o_totalprice FROM $v WHERE o_orderkey % 2 = 1 " +
      "ORDER BY o_orderkey")
    s.sql(s"SELECT rid, o_orderkey, o_totalprice FROM $t ORDER BY rid")
  }

  /** Map-typed columns through the GENERAL subquery-DML fallback (round
    * 13): the table carries a MAP column and the DELETE predicate is an OR
    * of two subqueries — a shape only the full-row fallback covers, which
    * used to refuse map columns (maps cannot join or DISTINCT). Full-row
    * matching now keys the map on a canonical JSON encoding on both sides.
    * The oracle re-derives the survivors (and the map's values, read back
    * through element_at) from the base tables. */
  def sqlMapSubqueryDml(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "mapdml")
    val li = view(s, dir, "lineitem")
    val ord = view(s, dir, "orders")
    s.sql(s"CREATE TABLE $t (l_orderkey BIGINT, l_linenumber BIGINT, " +
      "attrs MAP<STRING,DOUBLE>)")
    s.sql(s"INSERT INTO $t SELECT l_orderkey, CAST(l_linenumber AS BIGINT), " +
      s"map('qty', l_quantity, 'price', l_extendedprice) FROM $li")
    s.sql(s"DELETE FROM $t WHERE " +
      s"l_orderkey IN (SELECT o_orderkey FROM $ord WHERE o_totalprice > 300000) " +
      s"OR l_orderkey IN (SELECT o_orderkey FROM $ord " +
      "WHERE o_orderpriority = '1-URGENT' AND o_totalprice < 100000)")
    // the synthetic data is NOT unique on (orderkey, linenumber) — order
    // by every output column so ties cannot scramble the comparison
    s.sql(s"SELECT l_orderkey, l_linenumber, element_at(attrs, 'qty') AS qty, " +
      s"element_at(attrs, 'price') AS price FROM $t " +
      "ORDER BY l_orderkey, l_linenumber, qty, price")
  }

  /** Identity allocation through MERGE INSERT (round 13, Delta parity):
    * the table seeds every third order (ordered insert — rids exactly
    * 500, 503, …), then ONE MERGE updates the seeded rows and inserts the
    * rest with the identity column OMITTED — the engine allocates from the
    * high-water mark inside the merge commit. Merge-insert pairing is
    * nondeterministic (join output order), so the oracle checks what IS
    * contracted: `dense_check` proves the rid multiset is EXACTLY the
    * first-n lattice points (rank-vs-value cancellation — any gap,
    * duplicate, or off-lattice value makes some row non-zero), while
    * (o_orderkey, o_totalprice) prove the clause effects row by row. */
  def sqlMergeIdentity(s: SparkSession, dir: String): DataFrame = {
    val t = fresh(s, "idm")
    val v = view(s, dir, "orders")
    s.sql(s"CREATE TABLE $t (rid BIGINT GENERATED ALWAYS AS IDENTITY " +
      "(START WITH 500 INCREMENT BY 3), o_orderkey BIGINT, o_totalprice DOUBLE)")
    s.sql(s"INSERT INTO $t (o_orderkey, o_totalprice) " +
      s"SELECT o_orderkey, o_totalprice FROM $v WHERE o_orderkey % 3 = 0 " +
      "ORDER BY o_orderkey")
    s.sql(s"MERGE INTO $t t USING (SELECT o_orderkey, o_totalprice FROM $v) s " +
      "ON t.o_orderkey = s.o_orderkey " +
      "WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice * 2 " +
      "WHEN NOT MATCHED THEN INSERT (o_orderkey, o_totalprice) " +
      "VALUES (s.o_orderkey, s.o_totalprice)")
    s.sql(s"""SELECT o_orderkey, o_totalprice, (rid - 500) % 3 AS lat,
             |  row_number() OVER (ORDER BY rid) * 3 + 497 - rid AS dense_check
             |FROM $t ORDER BY o_orderkey""".stripMargin)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s40_sql_date_partition_range" -> (sqlDatePartitionRange(_, _)),
    "s41_sql_ts_partition_eq" -> (sqlTimestampPartitionEq(_, _)),
    "s42_sql_or_prefix_null_prune" -> (sqlOrPrefixNullPrune(_, _)),
    "s43_sql_agg_claimed_filter" -> (sqlAggClaimedFilter(_, _)),
    "s44_sql_float_partition_eq" -> (sqlFloatPartitionEq(_, _)),
    "s45_sql_tz_partition_write" -> (sqlTzPartitionWrite(_, _)),
    "s46_sql_double_partition_range" -> (sqlDoublePartitionRange(_, _)),
    "s47_sql_join_claimed_stats" -> (sqlJoinClaimedStats(_, _)),
    "s48_sql_agg_distributed_fold" -> (sqlAggDistributedFold(_, _)),
    "s49_sql_set_not_null" -> (sqlSetNotNull(_, _)),
    "s39_sql_merge_identity" -> (sqlMergeIdentity(_, _)),
    "s38_sql_map_subquery_dml" -> (sqlMapSubqueryDml(_, _)),
    "s37_sql_identity_columns" -> (sqlIdentityColumns(_, _)),
    "s36_sql_generated_columns" -> (sqlGeneratedColumns(_, _)),
    "s35_sql_ingest" -> (sqlIngest(_, _)),
    "s34_sql_cluster_by" -> (sqlClusterBy(_, _)),
    "s33_sql_column_defaults" -> (sqlColumnDefaults(_, _)),
    "s19_sql_scalar_subquery" -> (sqlScalarSubquery(_, _)),
    "s20_sql_correlated_scalar" -> (sqlCorrelatedScalar(_, _)),
    "s21_sql_correlated_in" -> (sqlCorrelatedIn(_, _)),
    "s22_sql_truncate" -> (sqlTruncate(_, _)),
    "s23_sql_delete_or_subquery" -> (sqlDeleteOrSubquery(_, _)),
    "s24_sql_correlated_not_in" -> (sqlCorrelatedNotIn(_, _)),
    "s25_sql_agg_pushdown" -> (sqlAggPushdown(_, _)),
    "s26_sql_bloom_delete" -> (sqlBloomDelete(_, _)),
    "s27_sql_agg_groupby" -> (sqlAggGroupBy(_, _)),
    "s28_sql_limit" -> (sqlLimit(_, _)),
    "s29_sql_topn" -> (sqlTopN(_, _)),
    "s17_sql_restore" -> (sqlRestore(_, _)),
    "s18_sql_dedup" -> (sqlDedup(_, _)),
    "s15_sql_dml_exists" -> (sqlDmlExists(_, _)),
    "s16_sql_delete_not_in" -> (sqlDeleteNotIn(_, _)),
    "s11_sql_merge_insert_expr" -> (sqlMergeInsertExpr(_, _)),
    "s12_sql_merge_renamed_keys" -> (sqlMergeRenamedKeys(_, _)),
    "s13_sql_delete_subquery" -> (sqlDeleteSubquery(_, _)),
    "s14_sql_merge_schema_evolution" -> (sqlMergeSchemaEvolution(_, _)),
    "s7_sql_table_changes" -> (sqlTableChanges(_, _)),
    "s1_sql_delete" -> (sqlDelete(_, _)),
    "s2_sql_update" -> (sqlUpdate(_, _)),
    "s3_sql_merge_upsert" -> (sqlMergeUpsert(_, _)),
    "s4_sql_merge_expr" -> (sqlMergeExpr(_, _)),
    "s5_sql_time_travel" -> (sqlTimeTravel(_, _)),
    "s6_sql_insert_overwrite" -> (sqlInsertOverwrite(_, _)),
    "s8_sql_merge_clauses" -> (sqlMergeClauses(_, _)),
    "s9_sql_merge_sync" -> (sqlMergeSync(_, _)),
    "s10_sql_partitioned" -> (sqlPartitioned(_, _)),
    "s30_sql_replace_where" -> (sqlReplaceWhere(_, _)),
    "s31_sql_dynamic_overwrite" -> (sqlDynamicOverwrite(_, _)),
    "s32_sql_text_functions" -> (sqlTextFunctions(_, _)))

  val oracleSql: Map[String, String] = Map(
    "s44_sql_float_partition_eq" ->
      """WITH b AS (SELECT event_id,
        |  CAST(CAST(FLOOR(value) AS BIGINT) % 10 * 0.1 AS FLOAT) AS fbucket
        |  FROM events)
        |SELECT * FROM (
        |  SELECT count(*) AS n, min(event_id) AS min_id,
        |    max(event_id) AS max_id
        |  FROM b WHERE fbucket = CAST(0.1 AS FLOAT)
        |  UNION ALL
        |  SELECT count(*), min(event_id), max(event_id)
        |  FROM b WHERE fbucket IN (CAST(0.3 AS FLOAT), CAST(0.7 AS FLOAT))
        |) ORDER BY n""".stripMargin,

    "s45_sql_tz_partition_write" ->
      """SELECT count(*) AS n, min(event_id) AS min_id,
        |  max(event_id) AS max_id
        |FROM events
        |WHERE date_trunc('day', CAST(ts AS TIMESTAMP)) = TIMESTAMP '2024-01-15'""".stripMargin,

    "s46_sql_double_partition_range" ->
      """WITH b AS (SELECT event_id,
        |  CAST(CAST(FLOOR(value) AS BIGINT) % 10 * 0.1 AS DOUBLE) AS dbucket
        |  FROM events)
        |SELECT * FROM (
        |  SELECT count(*) AS n, min(event_id) AS min_id,
        |    max(event_id) AS max_id
        |  FROM b WHERE dbucket = CAST(0.3 AS DOUBLE)
        |  UNION ALL
        |  SELECT count(*), min(event_id), max(event_id)
        |  FROM b WHERE dbucket >= CAST(0.55 AS DOUBLE)
        |    AND dbucket <= CAST(0.85 AS DOUBLE)
        |) ORDER BY n""".stripMargin,

    "s48_sql_agg_distributed_fold" ->
      """SELECT count(*) AS n, count(user_id) AS n_users,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events WHERE event_type IN ('click', 'purchase')""".stripMargin,

    "s49_sql_set_not_null" ->
      """SELECT o_orderkey, o_orderpriority,
        |  (o_orderpriority IS NULL) AS went_null FROM (
        |  SELECT o_orderkey, CASE WHEN o_orderkey % 7 = 0
        |    THEN 'BACKFILL' ELSE o_orderpriority END AS o_orderpriority
        |  FROM orders
        |  UNION ALL SELECT -1, NULL
        |) ORDER BY o_orderkey""".stripMargin,

    "s47_sql_join_claimed_stats" ->
      """SELECT n_name, count(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "s43_sql_agg_claimed_filter" ->
      """SELECT count(*) AS n, count(user_id) AS n_users,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events WHERE event_type IN ('click', 'purchase')""".stripMargin,

    "s42_sql_or_prefix_null_prune" ->
      """SELECT event_id, user_id, value,
        |  NULLIF(event_type, 'view') AS event_type
        |FROM events
        |WHERE NULLIF(event_type, 'view') LIKE 'p%'
        |   OR NULLIF(event_type, 'view') IS NULL
        |ORDER BY event_id""".stripMargin,

    "s41_sql_ts_partition_eq" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE date_trunc('day', CAST(ts AS TIMESTAMP))
        |  IN (TIMESTAMP '2024-01-15', TIMESTAMP '2024-01-22', TIMESTAMP '2024-01-29')
        |ORDER BY event_id""".stripMargin,

    "s40_sql_date_partition_range" ->
      """SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS event_date,
        |  count(*) AS n, min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events
        |WHERE CAST(CAST(ts AS TIMESTAMP) AS DATE) >= DATE '2024-01-20'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "s39_sql_merge_identity" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2
        |       ELSE o_totalprice END AS o_totalprice,
        |  0 AS lat, 0 AS dense_check
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "s38_sql_map_subquery_dml" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  l_quantity AS qty, l_extendedprice AS price
        |FROM lineitem
        |WHERE l_orderkey NOT IN (
        |    SELECT o_orderkey FROM orders WHERE o_totalprice > 300000)
        |  AND l_orderkey NOT IN (
        |    SELECT o_orderkey FROM orders
        |    WHERE o_orderpriority = '1-URGENT' AND o_totalprice < 100000)
        |ORDER BY l_orderkey, l_linenumber, qty, price""".stripMargin,

    "s37_sql_identity_columns" ->
      """WITH evens AS (
        |  SELECT 1000 + 2*(row_number() OVER (ORDER BY o_orderkey) - 1) AS rid,
        |    o_orderkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 2 = 0
        |), n AS (SELECT count(*) AS c FROM evens),
        |odds AS (
        |  SELECT 1000 + 2*((SELECT c FROM n) + row_number() OVER (ORDER BY o_orderkey) - 1) AS rid,
        |    o_orderkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 2 = 1
        |)
        |SELECT rid, o_orderkey, o_totalprice FROM evens
        |UNION ALL SELECT rid, o_orderkey, o_totalprice FROM odds
        |ORDER BY rid""".stripMargin,

    "s36_sql_generated_columns" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2
        |       ELSE o_totalprice END AS o_totalprice,
        |  CAST(floor(CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2
        |       ELSE o_totalprice END / 10000) AS BIGINT) AS price_band,
        |  concat('k', CAST(o_orderkey % 7 AS VARCHAR)) AS key_tag
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "s35_sql_ingest" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "s34_sql_cluster_by" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |FROM orders WHERE o_custkey % 10 = 3 AND o_totalprice > 50000
        |ORDER BY o_orderkey""".stripMargin,

    "s33_sql_column_defaults" ->
      """SELECT o_orderkey, o_orderpriority, flag FROM (
        |  SELECT o_orderkey, 'BACKFILL' AS o_orderpriority, 'fresh' AS flag
        |  FROM orders WHERE o_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderpriority, 'explicit'
        |  FROM orders WHERE o_orderkey % 5 = 1
        |  UNION ALL
        |  SELECT o_orderkey, 'LATE', 'v2'
        |  FROM orders WHERE o_orderkey % 5 = 2
        |) ORDER BY o_orderkey""".stripMargin,

    "s32_sql_text_functions" ->
      """SELECT doc_id, lang,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |FROM documents
        |WHERE len(string_split(text, ' ')) >= 40
        |ORDER BY doc_id""".stripMargin,

    "s30_sql_replace_where" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority
        |FROM (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderstatus <> 'O'
        |  UNION ALL
        |  SELECT o_orderkey + 50000000, o_custkey, o_orderstatus,
        |         o_totalprice * 2, o_orderdate, 'RELOADED'
        |  FROM orders WHERE o_orderstatus = 'O' AND o_orderkey % 2 = 0
        |) ORDER BY o_orderkey""".stripMargin,

    "s31_sql_dynamic_overwrite" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
        |  value, props
        |FROM (
        |  SELECT event_id, ts, user_id, event_type, value, props
        |  FROM events WHERE event_type NOT IN ('click', 'purchase')
        |  UNION ALL
        |  SELECT event_id + 9000000, ts, user_id, event_type,
        |         value * 10, 'reloaded'
        |  FROM events
        |  WHERE event_type IN ('click', 'purchase') AND value >= 10
        |) ORDER BY event_id""".stripMargin,

    "s26_sql_bloom_delete" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id NOT IN (17, 101, 202, 303)
        |ORDER BY doc_id""".stripMargin,

    "s27_sql_agg_groupby" ->
      """SELECT o_orderstatus, COUNT(*) AS cnt, MIN(o_orderkey) AS min_key,
        |  MAX(o_orderkey) AS max_key, COUNT(o_custkey) AS cnt_cust
        |FROM orders WHERE NOT (o_orderstatus = 'P')
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "s28_sql_limit" ->
      """SELECT COUNT(*) AS cnt, COUNT(DISTINCT o_orderkey) AS dk,
        |  MIN(o_orderkey IN (SELECT o_orderkey FROM orders)) AS all_keys_real
        |FROM (SELECT o_orderkey FROM orders LIMIT 100)""".stripMargin,

    "s29_sql_topn" ->
      """SELECT lo.o_orderkey AS lo_key, lo.o_orderstatus AS lo_status,
        |  hi.o_orderkey AS hi_key, hi.o_orderstatus AS hi_status
        |FROM (SELECT o_orderkey, o_orderstatus,
        |        ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn
        |      FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 25)) lo
        |JOIN (SELECT o_orderkey, o_orderstatus,
        |        ROW_NUMBER() OVER (ORDER BY o_orderkey DESC) AS rn
        |      FROM (SELECT * FROM orders ORDER BY o_orderkey DESC LIMIT 25)) hi
        |  ON lo.rn = hi.rn
        |ORDER BY lo.o_orderkey""".stripMargin,

    "s25_sql_agg_pushdown" ->
      """SELECT a.cnt, a.cnt_status, a.min_key, a.max_key,
        |  a.min_date, a.max_date, a.min_prio, a.max_prio, b.cnt_after_dv,
        |  c.min_part_status, c.max_part_status, c.cnt_part_status
        |FROM (SELECT COUNT(*) AS cnt, COUNT(o_orderstatus) AS cnt_status,
        |        MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
        |        MIN(CAST(o_orderdate AS TIMESTAMP)) AS min_date,
        |        MAX(CAST(o_orderdate AS TIMESTAMP)) AS max_date,
        |        MIN(o_orderpriority) AS min_prio, MAX(o_orderpriority) AS max_prio
        |      FROM orders) a
        |CROSS JOIN (SELECT COUNT(*) AS cnt_after_dv FROM orders
        |            WHERE NOT (o_orderstatus = 'F')) b
        |CROSS JOIN (SELECT MIN(o_orderstatus) AS min_part_status,
        |        MAX(o_orderstatus) AS max_part_status,
        |        COUNT(o_orderstatus) AS cnt_part_status
        |      FROM orders) c""".stripMargin,

    "s23_sql_delete_or_subquery" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority
        |FROM orders t
        |WHERE NOT ((o_custkey IN (SELECT c_custkey FROM customer
        |                          WHERE c_mktsegment = 'BUILDING')
        |            OR o_totalprice > 250000)
        |           AND EXISTS (SELECT 1 FROM lineitem li
        |                       WHERE li.l_orderkey = t.o_orderkey
        |                         AND li.l_quantity >= 45))
        |ORDER BY o_orderkey""".stripMargin,

    "s24_sql_correlated_not_in" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer t
        |WHERE NOT (c_nationkey NOT IN
        |  (SELECT n.n_nationkey FROM nation n
        |   WHERE n.n_regionkey = t.c_custkey % 5
        |     AND n.n_nationkey < 20))
        |ORDER BY c_custkey""".stripMargin,

    "s22_sql_truncate" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_orderkey""".stripMargin,

    "s21_sql_correlated_in" ->
      """SELECT doc_id, lang, source, n_chars FROM documents t
        |WHERE NOT (lang IN (SELECT d.lang FROM documents d
        |                    WHERE d.source = t.source AND d.n_chars > 540))
        |ORDER BY doc_id""".stripMargin,

    "s20_sql_correlated_scalar" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  (SELECT max(l_extendedprice) FROM lineitem
        |   WHERE l_orderkey = o_orderkey) AS o_totalprice,
        |  CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    "s19_sql_scalar_subquery" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
        |  CASE WHEN o_totalprice < (SELECT 0.05 * max(o_totalprice) FROM orders)
        |       THEN 'LOW' ELSE o_orderpriority END AS o_orderpriority
        |FROM orders
        |WHERE o_totalprice <= (SELECT 0.5 * max(o_totalprice) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    "s17_sql_restore" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "s18_sql_dedup" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "s15_sql_dml_exists" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
        |  CASE WHEN o_custkey IN (SELECT c_custkey FROM customer
        |                          WHERE c_mktsegment = 'BUILDING')
        |       THEN o_orderpriority ELSE 'STALE' END AS o_orderpriority
        |FROM orders
        |WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        |ORDER BY o_orderkey""".stripMargin,

    "s16_sql_delete_not_in" ->
      """SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
        |FROM part WHERE p_size <= 30
        |ORDER BY p_partkey""".stripMargin,

    "s11_sql_merge_insert_expr" ->
      """SELECT * FROM (
        |  SELECT p_partkey, p_name, p_brand, p_type, p_size,
        |    CASE WHEN p_partkey % 8 = 0 THEN p_retailprice + p_size
        |         ELSE p_retailprice END AS p_retailprice
        |  FROM part
        |  UNION ALL
        |  SELECT p_partkey + 5000000, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
        |    CAST(NULL AS VARCHAR),
        |    CASE WHEN p_size >= 30 THEN p_size + 100
        |         WHEN p_size >= 10 THEN p_size
        |         ELSE CAST(NULL AS INTEGER) END,
        |    CASE WHEN p_size >= 30 THEN p_retailprice * 2
        |         WHEN p_size >= 10 THEN CAST(NULL AS DOUBLE)
        |         ELSE -p_retailprice END
        |  FROM part WHERE p_partkey % 4 = 0 AND p_partkey % 8 <> 0) m
        |ORDER BY p_partkey""".stripMargin,

    "s12_sql_merge_renamed_keys" ->
      """SELECT c_custkey, c_name, c_nationkey,
        |  CASE WHEN c_custkey % 5 = 0 THEN c_acctbal * 2 ELSE c_acctbal END AS c_acctbal,
        |  c_mktsegment
        |FROM customer
        |WHERE NOT (c_custkey % 5 = 0 AND c_acctbal < 0)
        |ORDER BY c_custkey""".stripMargin,

    "s13_sql_delete_subquery" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority
        |FROM orders
        |WHERE NOT (o_custkey IN (SELECT c_custkey FROM customer
        |                         WHERE c_mktsegment = 'BUILDING')
        |           AND o_totalprice < 100000)
        |ORDER BY o_orderkey""".stripMargin,

    "s14_sql_merge_schema_evolution" ->
      """SELECT * FROM (
        |  SELECT c_custkey, c_name,
        |    CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 5 ELSE c_acctbal END AS c_acctbal,
        |    CASE WHEN c_custkey % 3 = 0 THEN c_nationkey
        |         ELSE CAST(NULL AS INTEGER) END AS c_nationkey
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 10000000000, c_name, c_acctbal, c_nationkey
        |  FROM customer WHERE c_custkey % 40 = 0) m
        |ORDER BY c_custkey""".stripMargin,
    // d7's post-state algebra, driven end-to-end through SQL text
    "s7_sql_table_changes" ->
      """SELECT * FROM (
        |  SELECT 'insert' AS _change_type, event_id, user_id, event_type, value
        |  FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT 'delete', event_id, user_id, event_type, value
        |  FROM events WHERE event_type IN ('view','click') AND value < 5) ch
        |ORDER BY _change_type, event_id""".stripMargin,
    "s1_sql_delete" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderstatus <> 'F'
        |ORDER BY o_orderkey""".stripMargin,

    "s2_sql_update" ->
      """SELECT c_custkey, c_name, c_nationkey,
        |  CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal * 2 + 1 ELSE c_acctbal END AS c_acctbal,
        |  c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "s3_sql_merge_upsert" ->
      """SELECT * FROM (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 10 = 0 THEN CAST(0 AS DOUBLE) ELSE o_totalprice END AS o_totalprice,
        |    CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 10000000000, o_custkey, o_orderstatus,
        |    CAST(-1 AS DOUBLE), CAST(o_orderdate AS TIMESTAMP), o_orderpriority
        |  FROM orders WHERE o_orderkey % 100 = 0) merged
        |ORDER BY o_orderkey""".stripMargin,

    "s4_sql_merge_expr" ->
      """SELECT c_custkey, c_name, c_nationkey,
        |  CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + (c_acctbal + 1000) ELSE c_acctbal END AS c_acctbal,
        |  c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "s5_sql_time_travel" ->
      """SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
        |FROM part ORDER BY p_partkey""".stripMargin,

    "s8_sql_merge_clauses" ->
      """SELECT * FROM (
        |  SELECT c_custkey, c_name, c_nationkey,
        |    CASE WHEN c_custkey % 3 = 0 AND c_acctbal < 0 THEN CAST(0 AS DOUBLE)
        |         WHEN c_custkey % 3 = 0 THEN c_acctbal + 1
        |         ELSE c_acctbal END AS c_acctbal,
        |    c_mktsegment
        |  FROM customer
        |  WHERE NOT (c_custkey % 3 = 0 AND c_mktsegment = 'BUILDING')
        |  UNION ALL
        |  SELECT c_custkey + 10000000000, c_name, c_nationkey, c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey % 50 = 0 AND c_acctbal >= 0) m
        |ORDER BY c_custkey""".stripMargin,

    "s6_sql_insert_overwrite" ->
      """SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
        |FROM part WHERE p_size > 25
        |ORDER BY p_partkey""".stripMargin,

    // post-sync state = exactly the (balance-bumped) source slice
    "s9_sql_merge_sync" ->
      """SELECT c_custkey, c_name, c_nationkey,
        |  c_acctbal + 10 AS c_acctbal, c_mktsegment
        |FROM customer WHERE c_custkey % 4 = 1
        |ORDER BY c_custkey""".stripMargin,

    "s10_sql_partitioned" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
        |FROM events WHERE event_type = 'purchase' AND value > 50
        |ORDER BY event_id""".stripMargin)
}
