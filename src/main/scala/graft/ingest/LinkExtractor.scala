package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** html -> hyperlink edge extraction + url normalization + stable vertex ids
  * (SURVEY.md §7.1). The pages table (url, warc_ts, html, text, lang) is the
  * engine's source (BASELINE.json input_hint); the link graph is
  * edges(src, dst) with vid = xxhash64(normalized url), a 64-bit id space.
  * By the birthday bound, n urls collide with probability about
  * n^2 / 2^65: ~2.7% at 10^9 urls, while at 10^12 urls some 27,000
  * colliding pairs are expected. No check runs: two urls that share a vid
  * are merged into one vertex without notice. */
object LinkExtractor {

  /** Normalize a url column: lowercase scheme+host, strip fragment, strip
    * trailing slash. Deterministic, order-free. */
  def normalizeUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val lowered = concat(
      lower(regexp_extract(noFrag, "^([a-zA-Z]+://[^/]*)", 1)),
      regexp_extract(noFrag, "^[a-zA-Z]+://[^/]*(.*)$", 1))
    regexp_replace(lowered, "/$", "")
  }

  def vid(url: Column): Column = xxhash64(normalizeUrl(url))

  /** All href targets per page (absolute http(s) urls only at this layer;
    * relative resolution would join against the page's base url). */
  def hrefs(html: Column): Column =
    regexp_extract_all(decode(html, "UTF-8"),
      lit("(?i)<a\\s[^>]*href\\s*=\\s*[\"']([^\"'#][^\"']*)[\"']"), lit(1))

  /** pages(url, html, ...) -> directed edges(src BIGINT, dst BIGINT) with
    * self-loops dropped and duplicates collapsed. All column work is
    * codegen'd; the only shuffle is the final distinct. */
  def edges(pages: DataFrame): DataFrame = {
    pages
      .select(vid(col("url")).as("src"), explode(hrefs(col("html"))).as("href"))
      .where(col("href").rlike("(?i)^https?://"))
      .select(col("src"), vid(col("href")).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  /** vertices(vid, url) dimension for joining ranks back to urls. */
  def vertices(pages: DataFrame): DataFrame =
    pages.select(vid(col("url")).as("vid"), normalizeUrl(col("url")).as("url")).distinct()

  /** Extracted-text projection using the frozen extractor semantics. */
  def withExtractedText(pages: DataFrame): DataFrame =
    pages.withColumn("extracted_text", TextExtractor.extractTextCol(col("html")))
}
