package graft

import java.sql.Timestamp

/** Typed row model of the page table (SURVEY.md §1); its Parquet schema is
  * derived via Spark encoders so the storage contract and the typed API
  * cannot drift.
  */
object Schemas {

  /** The north-rule input table (`BASELINE.json` input_hint):
    * Common-Crawl-style pages. `html` is the raw capture (BINARY, isolated so
    * frontier-only queries never read it — column pruning is the point);
    * `text` is the extracted invariant column.
    */
  final case class Page(
      url: String,
      warc_ts: Timestamp,
      html: Array[Byte],
      text: String,
      lang: String)
}
