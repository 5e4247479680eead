package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{chunk_explode, extract_readable, hash_embed, page_results}

/** The per-row document pipeline — the declarative form of the reference's
  * `scrape_and_prepare` + `process_urls`
  * (`/root/reference/web_scraper_pipeline.py:186-212`):
  *
  *   fetch(url) → clean_html → extract_readable_text → preprocess_text
  *     → hybrid_chunk → embed
  *
  * Here "fetch" is a column read (`html` from the pages table — Common-Crawl
  * replay; there is no live network in a 100 TB batch job). The first four
  * stages are one scan ([[graft.text.HtmlText.extractReadable]]), and
  * [[results]] evaluates the whole chain as one codegen'd expression per
  * row, so the pipeline is ONE whole-stage-codegen'd map over the scan: no
  * shuffle, no materialization between stages, linear scaling by adding
  * executors. The per-stage entry points below expose the same kernels one
  * stage at a time.
  */
object TextPipeline {

  /** pages(url, html, …) → + text (the byte-identical invariant column). */
  def withExtractedText(pages: DataFrame, htmlCol: String = "html"): DataFrame =
    pages.withColumn("text",
      extract_readable(col(htmlCol).cast("string")))

  /** url + text → one row per chunk (url, chunk_id, chunk). */
  def chunks(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("url"), chunk_explode(col(textCol)).as(Seq("chunk_id", "chunk")))

  /** chunk rows → + 384-dim embedding. */
  def withEmbeddings(chunkRows: DataFrame): DataFrame =
    chunkRows.withColumn("embedding", hash_embed(col("chunk")))

  /** The reference's full output contract, one row per url
    * (`README.md:38-47`): {url, full_text, chunks, embeddings}. One
    * struct-valued expression per row (html decoded once, every chunk
    * embedded from its String); array-typed columns computed per-row, no
    * groupBy, so assembling the result row costs zero shuffles.
    */
  def results(pages: DataFrame, htmlCol: String = "html"): DataFrame =
    pages.select(col("url"), page_results(col(htmlCol).cast("string")).as("r"))
      .select(col("url"), col("r.full_text").as("full_text"),
        col("r.chunks").as("chunks"), col("r.embeddings").as("embeddings"))
}
