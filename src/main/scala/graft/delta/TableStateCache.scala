package graft.delta

/**
 * Replayed table states on the driver, one per table, shared by every
 * [[DeltaTable]] instance through the table's qualified log path: the
 * catalog's, the stream source's and sink's, each DML command's and every
 * `forPath` caller's (Delta Lake keeps one `DeltaLog` per table path the
 * same way).
 *
 * An entry is the newest state some instance replayed, with the
 * [[FileStamp]] of the log file its version stands on ([[LogListing.stamp]]).
 * A reader reuses it only when its own listing shows that file with the
 * same length and modification time, so a table dropped and recreated at
 * the same path never gets the old state back, even at the same version.
 *
 * The cache is bounded by the file entries (active files plus tombstones)
 * of all its states, at `maxEntries`; past it the least recently used
 * table is evicted first, and a state larger than the bound is not kept.
 */
private[delta] final class TableStateCache(val maxEntries: Long) {
  import TableStateCache.Entry

  private val states = new java.util.LinkedHashMap[String, Entry](16, 0.75f, true)
  private var total = 0L

  def get(key: String): Option[Entry] = synchronized(Option(states.get(key)))

  /** Keeps `entry` for `key` when the slot holds nothing, still holds
    * `expected` (the entry the caller found and replaces), or holds an
    * older version. */
  def put(key: String, entry: Entry, expected: Option[Entry]): Unit = synchronized {
    val cur = states.get(key)
    if (cur == null || expected.exists(_ eq cur) ||
        cur.snapshot.version < entry.snapshot.version) {
      remove(key)
      if (entry.size <= maxEntries) {
        states.put(key, entry)
        total += entry.size
        val lru = states.values.iterator
        while (total > maxEntries) {
          total -= lru.next().size
          lru.remove()
        }
      }
    }
  }

  /** Drops `key`'s state: its next read is a cold one. */
  def remove(key: String): Unit = synchronized {
    val cur = states.remove(key)
    if (cur != null) total -= cur.size
  }

  /** Cached tables, least recently used first. */
  def keys: Seq[String] = synchronized {
    import scala.jdk.CollectionConverters._
    states.keySet.asScala.toSeq
  }

  /** File entries held over all cached states. */
  def entries: Long = synchronized(total)
}

private[delta] object TableStateCache {

  /** A replayed state and the stamp of the log file its version stands on. */
  final case class Entry(snapshot: Snapshot, stamp: FileStamp) {
    val size: Long = snapshot.activeFiles.size.toLong + snapshot.tombstones.size
  }

  /** The process's cache. Its bound is the distributed-snapshot threshold:
    * about 20 MB of driver heap, and no table above the threshold scans
    * through a driver state. */
  val shared = new TableStateCache(DistributedSnapshot.DefaultThreshold)
}
