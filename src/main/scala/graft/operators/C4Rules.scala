package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** C4's line-level cleanup (Raffel et al. 2020 §2.2, the "Colossal Clean
  * Crawled Corpus" heuristics) — the rule set that, with dedup, turned
  * Common Crawl into C4. Line rules (a line is KEPT iff all three hold):
  *
  *  1. ends in a terminal punctuation mark (`.`, `!`, `?`, `"`);
  *  2. has at least `minWords` words;
  *  3. does not contain the word `javascript` (case-insensitive) — the
  *     "enable javascript" boilerplate marker.
  *
  * Page rules (the whole document drops, kept lines notwithstanding):
  *
  *  - raw text contains `lorem ipsum` (case-insensitive) — placeholder
  *    pages;
  *  - raw text contains `{` — code masquerading as prose;
  *  - fewer than `minSentences` sentences survive the line rules
  *    (sentence count = terminal `.`/`!`/`?` marks in the kept text —
  *    an engine-stable proxy for the paper's sentence splitter).
  *
  * Output: one row per document — `(id, n_lines, n_kept_lines,
  * n_sentences, has_lorem, has_brace, keep, clean_md5)`; `clean_md5`
  * hashes the kept lines joined by a single newline (md5 of '' when
  * nothing survives). Tag-don't-drop: `keep` is a flag, the caller
  * decides retention — the q48 curation rule.
  *
  * Scale shape: ENTIRELY map-side — every rule is a per-line predicate
  * and every output a per-document fold over the line array (no explode,
  * no shuffle, no state). The cheapest possible plan class; it
  * whole-stage-codegens into the scan. Run per micro-batch at ingest
  * (clean-at-ingest ordering), it keeps raw chrome from ever reaching
  * downstream consumers.
  */
object C4Rules {

  private val Terminal = Seq("." , "!", "?", "\"")

  def clean(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minWords: Int = 5,
      minSentences: Int = 3): DataFrame = {
    require(minWords >= 1, "minWords must be positive")
    require(minSentences >= 0, "minSentences must be >= 0")
    val lines = filter(
      transform(split(col(textCol), "\n"), l => trim(l)), l => l =!= "")
    val endsTerminal = (l: org.apache.spark.sql.Column) =>
      Terminal.map(t => l.endsWith(t)).reduce(_ || _)
    val keptArr = filter(lines, l =>
      endsTerminal(l) &&
        size(split(l, "\\s+")) >= minWords &&
        !lower(l).rlike("(^|[^a-z])javascript([^a-z]|$)"))
    docs
      .select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("n_lines", size(lines).cast("long"))
      .withColumn("kept", keptArr)
      .withColumn("n_kept_lines", size(col("kept")).cast("long"))
      .withColumn("clean_text", array_join(col("kept"), "\n"))
      .withColumn("n_sentences",
        (length(col("clean_text")) -
          length(regexp_replace(col("clean_text"), "[.!?]", "")))
          .cast("long"))
      .withColumn("has_lorem", lower(col("text")).contains("lorem ipsum"))
      .withColumn("has_brace", col("text").contains("{"))
      .withColumn("keep",
        !col("has_lorem") && !col("has_brace") &&
          col("n_sentences") >= minSentences)
      .withColumn("clean_md5", md5(col("clean_text")))
      .select(col("id"), col("n_lines"), col("n_kept_lines"),
        col("n_sentences"), col("has_lorem"), col("has_brace"),
        col("keep"), col("clean_md5"))
  }
}
