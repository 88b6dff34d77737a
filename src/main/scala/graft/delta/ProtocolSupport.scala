package graft.delta

/**
 * Delta protocol feature gating (north-star — the reference validates
 * protocol SHAPE only, src/delta/validators.ts:226-235; the Delta spec
 * requires clients to REFUSE tables whose protocol demands features they
 * don't implement, because ignoring one silently corrupts reads or
 * destroys table invariants on write).
 *
 * Version model: reader/writer versions below 3/7 imply fixed legacy
 * feature sets (all of which this engine reads); version 3/7 tables carry
 * explicit `readerFeatures`/`writerFeatures` lists that must be subsets of
 * what we support. Schema-declared write semantics (generated columns,
 * column invariants, CHECK constraints) are enforced row-by-row on the
 * write paths rather than refused here.
 */
object ProtocolSupport {

  /** Features whose READ semantics this engine implements. */
  val supportedReaderFeatures: Set[String] = Set(
    "deletionVectors", "columnMapping", "timestampNtz", "variantType",
    "vacuumProtocolCheck", "icebergCompatV1", "icebergCompatV2")

  /** Features whose WRITE obligations this engine honors. Generated
    * columns and legacy invariants are enforced row-by-row by the task
    * writer every write runs ([[WritePlan]]: omitted generated columns are
    * computed, provided ones validated, invariants checked with
    * NULL-fails strictness). */
  val supportedWriterFeatures: Set[String] = Set(
    "appendOnly", "checkConstraints", "columnMapping", "deletionVectors",
    "timestampNtz", "variantType", "vacuumProtocolCheck",
    "icebergCompatV1", "icebergCompatV2", "invariants", "generatedColumns",
    "identityColumns")

  private val MaxReaderVersion = 3
  private val MaxWriterVersion = 7

  def assertReadable(protocol: Option[Protocol], path: String): Unit =
    protocol.foreach { p =>
      if (p.minReaderVersion > MaxReaderVersion)
        throw new UnsupportedProtocolException(
          s"$path requires minReaderVersion ${p.minReaderVersion} " +
            s"(this engine reads up to $MaxReaderVersion)")
      val unknown = p.readerFeatures.getOrElse(Nil).filterNot(supportedReaderFeatures)
      if (p.minReaderVersion >= 3 && unknown.nonEmpty)
        throw new UnsupportedProtocolException(
          s"$path requires reader features ${unknown.mkString(", ")} " +
            "this engine does not implement; reading would be silently wrong")
    }

  def assertWritable(snap: Snapshot, path: String): Unit = {
    snap.protocol.foreach { p =>
      if (p.minWriterVersion > MaxWriterVersion)
        throw new UnsupportedProtocolException(
          s"$path requires minWriterVersion ${p.minWriterVersion} " +
            s"(this engine writes up to $MaxWriterVersion)")
      val unknown = p.writerFeatures.getOrElse(Nil).filterNot(supportedWriterFeatures)
      if (p.minWriterVersion >= 7 && unknown.nonEmpty)
        throw new UnsupportedProtocolException(
          s"$path requires writer features ${unknown.mkString(", ")} " +
            "this engine does not honor; writing would break the table's contract")
    }
    // No hazard-based schema refusals remain: generated columns are
    // computed/validated and invariants enforced by the one task writer
    // every row-producing write runs ([[WritePlan]]).
  }
}
