package graft.sources

/** CSV delimiter auto-detection (reference S1: data_filter.rs:392-466 —
  * tries the configured delimiter then `, ; | \t :` deduped
  * order-preserving; per candidate a quick structure probe rejects
  * single-column parses).
  *
  * Pure: it works on the head sample [[Readers.read]] fetches once (one
  * small task), never a file pass per candidate.
  */
object CsvSniffer {

  val DefaultCandidates: Seq[Char] = Seq(',', ';', '|', '\t', ':')
  val ProbeRows = 100

  /** Order-preserving dedup (reference traits.rs:307-333 Vec::unique). */
  def uniqueCandidates(configured: Option[Char]): Seq[Char] =
    (configured.toSeq ++ DefaultCandidates).distinct

  /** Quote-aware field count of one CSV line for a candidate delimiter. */
  def fieldCount(line: String, sep: Char): Int = {
    var count = 1
    var inQuotes = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (c == '"') {
        if (inQuotes && i + 1 < line.length && line.charAt(i + 1) == '"') i += 1
        else inQuotes = !inQuotes
      } else if (c == sep && !inQuotes) count += 1
      i += 1
    }
    count
  }

  /** Probe `lines` with a candidate — HEADER-ANCHORED (reference
    * semantics, data_filter.rs:484-531: the header row defines the column
    * count and a candidate is rejected when ≤ 1 column parses):
    *
    *   1. the header's quote-aware field count must be > 1 (primary
    *      signal — a Euro-decimal CSV like `name;qty;euro` / `beta;2;1.000,5`
    *      rejects ',' here because the header contains no comma, even
    *      though data rows do);
    *   2. the MODAL field count over the data rows must also be > 1
    *      (consistency check only — rejects a delimiter that splits just
    *      the header, e.g. `a,b` over undelimited data rows).
    *
    * Ragged CSVs (trailing fields omitted on some rows) still detect:
    * short rows don't drag the modal count to 1, and the PERMISSIVE read
    * null-pads them (missing_is_null).
    *
    * With `hasHeader = false` there is no header line to anchor on, so
    * the probe degrades to the modal vote over ALL lines (best effort —
    * a headerless comma-decimal file is inherently ambiguous between
    * ',' and ';' unless the caller configures the delimiter, which is
    * tried first). */
  def probe(lines: Seq[String], sep: Char, hasHeader: Boolean = true): Boolean = {
    if (lines.isEmpty) return false
    if (!hasHeader) {
      val modal = lines.map(fieldCount(_, sep))
        .groupBy(identity).maxBy { case (c, g) => (g.size, c) }._1
      return modal > 1
    }
    if (fieldCount(lines.head, sep) <= 1) return false
    val data = lines.tail
    if (data.isEmpty) return true
    val modal = data.map(fieldCount(_, sep))
      .groupBy(identity).maxBy { case (c, g) => (g.size, c) }._1
    modal > 1
  }

  /** The delimiter for a file whose head is `lines`: the first
    * candidate (configured, then defaults) that survives [[probe]] on the
    * first [[ProbeRows]] lines. When NONE does, the LAST candidate is
    * accepted anyway, mirroring the reference's is_last_element bypass
    * (data_filter.rs:509: the width check is skipped for the final
    * delimiter) — a single-column CSV, or a header containing no
    * candidate at all, degrades to a 1-column read instead of failing.
    * An explicitly configured delimiter wins the fallback outright — the
    * user's explicit setting must never be vetoed in favor of a default
    * candidate. */
  def sniff(lines: Seq[String], configured: Option[Char] = None,
      hasHeader: Boolean = true): Char = {
    val head = lines.take(ProbeRows)
    val candidates = uniqueCandidates(configured)
    candidates.find(probe(head, _, hasHeader))
      .getOrElse(configured.getOrElse(candidates.last))
  }
}
