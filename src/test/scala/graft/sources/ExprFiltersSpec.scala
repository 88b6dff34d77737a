package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.delta.{AddFile, DataSkipping, FileStats}

/** Contract of the Catalyst-expression → file-skipping rewrite: prune ONLY
  * what the stats prove; anything ambiguous must keep the file, because
  * an over-eager rule PRUNES FILES THAT HOLD MATCHING ROWS. Each case runs
  * over three synthetic files with tight stats: `lo` (small values), `hi`
  * (large values) and `nul` (every value null). */
class ExprFiltersSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("a", IntegerType), StructField("b", StringType),
    StructField("c", IntegerType), StructField("s", StringType),
    StructField("d", DateType), StructField("t", TimestampType),
    StructField("x", DecimalType(10, 2)), StructField("l", LongType)))

  private def file(name: String, n: Long, bounds: Map[String, (Any, Any)]): AddFile = {
    def j(v: Any): org.json4s.JValue = v match {
      case i: Int => org.json4s.JInt(i)
      case l: Long => org.json4s.JInt(l)
      case d: Double => org.json4s.JDouble(d)
      case s: String => org.json4s.JString(s)
    }
    val nulls = schema.fieldNames.map(f => f -> (if (bounds.contains(f)) 0L else n)).toMap
    AddFile(name, Map.empty, 1L, 1L, stats = Some(FileStats(n,
      bounds.map { case (k, (lo, _)) => k -> j(lo) },
      bounds.map { case (k, (_, hi)) => k -> j(hi) }, nulls).toJsonString))
  }

  private val files = Seq(
    file("lo", 10, Map("a" -> (1, 3), "b" -> ("x", "x"), "c" -> (1, 10),
      "s" -> ("aa", "ab"), "d" -> ("2024-01-01", "2024-01-01"),
      "t" -> ("2024-01-01T00:00:00.000000", "2024-01-01T05:00:00.000000"),
      "x" -> (1.5, 1.5), "l" -> (1L, 3L))),
    file("hi", 10, Map("a" -> (5, 9), "b" -> ("y", "z"), "c" -> (11, 20),
      "s" -> ("ba", "bz"), "d" -> ("2024-02-01", "2024-03-01"),
      "t" -> ("2024-02-01T00:00:00.000000", "2024-02-01T05:00:00.000000"),
      "x" -> (7.5, 9.5), "l" -> (9007199254740993L, 9007199254740993L))),
    file("nul", 10, Map("c" -> (21, 30))))
  private val all = files.map(_.path).toSet

  private def kept(c: Column): Set[String] = {
    spark // resolution analyzes over the active session
    val p = DataSkipping.bind(c, schema, Nil)
    files.filter(p).map(_.path).toSet
  }

  private def kept(e: org.apache.spark.sql.catalyst.expressions.Expression): Set[String] =
    kept(org.apache.spark.sql.graft.Shims.column(e))

  test("simple comparisons translate with the attribute on either side") {
    assert(kept(col("a") === 5) == Set("hi"))
    assert(kept(lit(5) < col("a")) == Set("hi"))
    assert(kept(col("s") === "x") == Set.empty[String])
    assert(kept(col("s") === "ab") == Set("lo"))
  }

  test("AND conjunctions accumulate; untranslatable conjuncts drop out") {
    assert(kept(col("a") > 1 && col("b") === "x" && col("s").contains("q")) == Set("lo"))
  }

  test("NOT / UDF shapes prune nothing") {
    // no file's column is constant at 1, so NOT (a = 1) keeps every file
    assert(kept(!(col("a") === 1)) == all)
    val odd = udf((i: Int) => i % 2 == 1)
    assert(kept(odd(col("a"))) == all)
  }

  test("null checks and string prefixes translate (round 14)") {
    assert(kept(col("a").isNull) == Set("nul"))
    // <=> is null-safe equality
    assert(kept(col("a") <=> 5) == Set("hi"))
    assert(kept(col("a") <=> lit(null)) == Set("nul"))
    assert(kept(col("a").isNotNull) == Set("lo", "hi"))
    assert(kept(col("s").startsWith("ab")) == Set("lo"))
    // LIKE with a plain prefix pattern prunes; real wildcards do not
    assert(kept(col("s").like("ab%")) == Set("lo"))
    assert(kept(col("s").like("ab%c")) == all)
    assert(kept(col("s").like("a_b%")) == all)
    assert(kept(col("s").like("%ab")) == all)
    // rlike prunes on a safe anchored prefix
    assert(kept(col("s").rlike("^ab.*")) == Set("lo"))
    assert(kept(col("s").rlike("^a|b")) == all)
  }

  test("OR translates branch-wise; an untranslatable branch voids the whole OR") {
    // a file survives if EITHER branch might match it
    assert(kept(col("a") === 1 || col("c") === 25) == Set("lo", "nul"))
    assert(kept((col("a") === 1 && col("c") > 5) || col("c") === 25) == Set("lo", "nul"))
    // a branch without a rule makes OR keep everything (true ∨ R is true)
    assert(kept(col("s").contains("q") || col("c") === 25) == all)
    assert(kept(col("a") === 1 || !(col("c") === 25)) == all)
  }

  test("IN translates only when every element is a trusted literal") {
    assert(kept(col("a").isin(1, 2, 3)) == Set("lo"))
    assert(kept(col("a").isin(lit(1), col("c"))) == all)
  }

  test("date/timestamp literals translate to the canonical stat forms; decimals are refused") {
    assert(kept(col("d") === java.sql.Date.valueOf("2024-01-01")) == Set("lo"))
    assert(kept(col("t") >= java.sql.Timestamp.valueOf("2024-01-01 06:00:00")) == Set("hi"))
    // decimal stats are not trusted: keep every non-null file
    assert(kept(col("x") === BigDecimal("1.50")) == Set("lo", "hi"))
  }

  test("numeric widening casts unwrap; string and narrowing casts do not") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, EqualTo, Literal}
    // analyzer-style widening around a RESOLVED attribute: int vs long lit
    val ia = AttributeReference("a", IntegerType)()
    assert(kept(EqualTo(Cast(ia, LongType), Literal(5L))) == Set("hi"))
    // CAST(string AS INT) = 5 changes match semantics (Spark trims
    // whitespace: ' 5' matches) — no rule, keep
    val sa = AttributeReference("s", StringType)()
    assert(kept(EqualTo(Cast(sa, IntegerType), Literal(5))) == all)
    // narrowing long→int is NOT order-preserving either
    val la = AttributeReference("l", LongType)()
    assert(kept(EqualTo(Cast(la, IntegerType), Literal(5))) == all)
    // long→double rounds above 2^53 but stays monotone: the cast applies
    // to the stats too, so the file holding only 2^53+1 (which casts to
    // 2^53) is kept
    assert(kept(EqualTo(Cast(la, DoubleType), Literal(9007199254740992.0))) == Set("hi"))
    // int→double widens exactly
    assert(kept(EqualTo(Cast(ia, DoubleType), Literal(5.0))) == Set("hi"))
    // a DSL cast resolves to the same widening
    assert(kept(col("a").cast(LongType) === 5L) == Set("hi"))
  }
}
