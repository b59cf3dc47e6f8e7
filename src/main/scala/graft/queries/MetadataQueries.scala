package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** Round-8 wave-67 metadata-trust audits — the two places a corpus's own
  * metadata lies to the pipeline:
  *
  *  - declared-vs-detected language confusion (q333): the q12 n-gram
  *    language-ID cross-tabulated against the `lang` column the source
  *    DECLARED — crawl metadata is wrong often enough that every
  *    language-conditioned decision (fertility, mixture weights,
  *    stopword quality) needs this audit first;
  *  - OOV-rate audit (q334): per source, the share of token occurrences
  *    outside the corpus's top-[[OovVocabN]] vocabulary — the
  *    tokenizer-health signal (a source whose mass is OOV will shatter
  *    into character-level tokens and silently dominate the token
  *    budget; q105 prices segmentation fertility, this prices
  *    vocabulary coverage).
  *
  * Both are single-pass scalar/aggregate plans: a codegen'd language
  * CASE per doc, one vocabulary-keyed semi-join for OOV.
  */
object MetadataQueries {

  /** X364 — declared-vs-detected language confusion matrix: per
    * (declared `lang`, detected `lang_pred`) cell, the doc count, the
    * share of the DECLARED language's row ×10⁴, and the agreement flag.
    * The q12 detector is the codegen'd stopword-hit CASE — one scalar
    * pass, one |langs|²-bounded aggregate. */
  def q333_lang_confusion(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("lang"), langId(col("text")).as("lang_pred"))
    val cells = d.groupBy("lang", "lang_pred").agg(count(lit(1)).as("n_docs"))
    val rows = cells.groupBy("lang").agg(sum("n_docs").as("n_declared"))
    cells.join(broadcast(rows), "lang")
      .select(col("lang"), col("lang_pred"), col("n_docs"),
        expr("(10000 * n_docs) div n_declared").as("row_share_x10k"),
        (col("lang") === col("lang_pred")).cast("long").as("agree"))
      .orderBy("lang", "lang_pred")
  }

  /** Vocabulary size for the OOV audit (top tokens by corpus count,
    * ties to the lexicographically smaller token). */
  val OovVocabN = 2000

  /** X365 — OOV-rate audit: per source, total token occurrences, the
    * occurrences whose token is NOT in the corpus top-[[OovVocabN]]
    * vocabulary, and the OOV share ×10⁴. The vocabulary cut is a
    * TakeOrdered (count desc, token asc — deterministic), broadcast
    * back as a semi-join key list; one token pass, one
    * vocabulary-keyed join, a |sources| aggregate. */
  def q334_oov_audit(spark: SparkSession, dir: String): DataFrame = {
    val tk = Tables.documents(spark, dir)
      .select(col("source"), explode(wsTokens(normalizeText(col("text")))).as("token"))
    val cnt = graft.ops.Materialize.checkpoint(
      tk.groupBy("source", "token").agg(count(lit(1)).as("c")))
    val vocab = cnt.groupBy("token").agg(sum("c").as("n"))
      .orderBy(col("n").desc, col("token").asc).limit(OovVocabN)
      .select("token")
    val flagged = cnt.join(broadcast(vocab).withColumn("in_vocab", lit(1L)),
        Seq("token"), "left")
    flagged.groupBy("source")
      .agg(sum("c").as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("c")).otherwise(0L)).as("n_oov"))
      .select(col("source"), col("n_tokens"), col("n_oov"),
        expr("(10000 * n_oov) div n_tokens").as("oov_x10k"))
      .orderBy("source")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q333_lang_confusion" -> q333_lang_confusion,
    "q334_oov_audit" -> q334_oov_audit
  )

  // ---------------------------------------------------------------- oracles

  import DataPrepQueries.normToks

  val oracles: Map[String, String] = Map(
    "q333_lang_confusion" ->
      s"""WITH ${DriftQueries.langCaseSql},
         |d AS (SELECT doc.lang, lp.lang_pred
         |      FROM documents doc JOIN lp ON lp.doc_id = doc.doc_id),
         |cells AS (SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n_docs
         |          FROM d GROUP BY lang, lang_pred),
         |rws AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS n_declared
         |        FROM cells GROUP BY lang)
         |SELECT cells.lang, cells.lang_pred, cells.n_docs,
         |       CAST((10000 * cells.n_docs) // rws.n_declared AS BIGINT) AS row_share_x10k,
         |       CAST(cells.lang = cells.lang_pred AS BIGINT) AS agree
         |FROM cells JOIN rws USING (lang)
         |ORDER BY lang, lang_pred""".stripMargin,
    "q334_oov_audit" ->
      s"""WITH tk AS (SELECT source, unnest($normToks) AS token FROM documents),
         |cnt AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c
         |        FROM tk GROUP BY source, token),
         |vocab AS (SELECT token FROM (
         |            SELECT token, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY token)
         |          ORDER BY n DESC, token ASC LIMIT $OovVocabN)
         |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
         |       CAST(sum(CASE WHEN vocab.token IS NULL THEN c ELSE 0 END) AS BIGINT) AS n_oov,
         |       CAST((10000 * sum(CASE WHEN vocab.token IS NULL THEN c ELSE 0 END))
         |            // sum(c) AS BIGINT) AS oov_x10k
         |FROM cnt LEFT JOIN vocab ON vocab.token = cnt.token
         |GROUP BY source
         |ORDER BY source""".stripMargin
  )
}
