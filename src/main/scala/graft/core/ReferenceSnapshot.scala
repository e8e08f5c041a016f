package graft.core

/** The reference project's snapshot — its raw CSVs and its committed
  * logs — read by the golden specs and by Bench's ref_pipeline_e2e. One
  * place names it, and a reader of a missing snapshot fails naming the
  * missing path.
  */
object ReferenceSnapshot {
  val root = "/root/reference"
  val rawDir = "data/raw"
  val auditReport = "logs/data_processing/2024-12-02/audit_report.json"

  /** Why `rel` cannot be read, or None when the snapshot holds it. */
  def missing(rel: String): Option[String] = {
    val p = s"$root/$rel"
    if (new java.io.File(p).exists) None
    else Some(s"reference snapshot missing at $p")
  }

  /** The path of `rel`; throws naming it when the snapshot lacks it. */
  def path(rel: String): String = {
    missing(rel).foreach(m => throw new java.io.FileNotFoundException(m))
    s"$root/$rel"
  }

  def raw: String = path(rawDir)
}
