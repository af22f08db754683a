package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.TextFunctions._
import graft.operators.Dedup

/** Text analysis + deduplication over the `documents` table — the
  * training-data-pipeline operator family (north star; SURVEY.md §0 scope
  * extension), plus the reference's string-function surface (F7-F9).
  *
  * Everything row-local (token stats, scores, fingerprints) runs inside
  * whole-stage codegen with no shuffle; the dedup entries are the shuffling
  * ones and are annotated with their exchange shape.
  */
object TextQueries extends QueryModule {

  /** Per-document token statistics (token counting op). */
  private def q18TextStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(
        $"doc_id",
        tokenCount($"text").cast("long").as("n_tokens"),
        length($"text").cast("long").as("n_chars_computed"),
        size(array_distinct(tokens($"text"))).cast("long").as("n_distinct_tokens"),
        meanTokenLen($"text").as("mean_token_len"))
      .orderBy($"doc_id")
  }

  private val q18Sql =
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_tokens,
      |  length(text) AS n_chars_computed,
      |  len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
      |  CAST(length(replace(text, ' ', '')) AS DOUBLE)
      |    / len(string_split(text, ' ')) AS mean_token_len
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Sentence-shape statistics (north star): the sentence-level
    * document-shape signals (count, char mass, min/max extremes) that
    * Gopher-style quality filters key on — a very short MEAN sentence is
    * a strong listing/boilerplate indicator, a single giant "sentence" a
    * missing-punctuation one. The fixture corpus is punctuation-free, so
    * the query first synthesizes terminal punctuation deterministically
    * (every standalone `the`/`a` becomes a sentence break via one
    * regexp_replace); the SAME replacement runs in the oracle, so the
    * segmentation contract of [[graft.functions.TextFunctions.sentences]]
    * itself sits under the hash. Row-local end to end (split / trim /
    * filter higher-order functions inside whole-stage codegen — the text
    * never shuffles); the only exchange is the presentation sort. */
  private def q237SentenceStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val punct = regexp_replace($"text", "\\b(the|a)\\b", ".")
    Tables.documents(spark, dir)
      .select($"doc_id", $"lang", sentenceLens(punct).as("__lens"))
      .select($"doc_id", $"lang",
        size($"__lens").cast("long").as("n_sentences"),
        coalesce(aggregate($"__lens", lit(0L), _ + _), lit(0L))
          .as("n_sentence_chars"),
        coalesce(array_min($"__lens"), lit(0L)).as("min_sentence_chars"),
        coalesce(array_max($"__lens"), lit(0L)).as("max_sentence_chars"))
      .orderBy($"doc_id")
  }

  private val q237Sql =
    """WITH seg AS (
      |  SELECT doc_id, lang,
      |    list_filter(list_transform(
      |      regexp_split_to_array(
      |        regexp_replace(text, '\b(the|a)\b', '.', 'g'), '[.!?]+'),
      |      x -> trim(x)), x -> length(x) > 0) AS sents
      |  FROM documents)
      |SELECT doc_id, lang,
      |  CAST(len(sents) AS BIGINT) AS n_sentences,
      |  CAST(coalesce(list_sum(list_transform(sents, x -> length(x))), 0)
      |    AS BIGINT) AS n_sentence_chars,
      |  CAST(coalesce(list_min(list_transform(sents, x -> length(x))), 0)
      |    AS BIGINT) AS min_sentence_chars,
      |  CAST(coalesce(list_max(list_transform(sents, x -> length(x))), 0)
      |    AS BIGINT) AS max_sentence_chars
      |FROM seg ORDER BY doc_id""".stripMargin

  /** Flesch readability bands (north star): the classic reading-ease
    * screen as a corpus quality signal, decided ENTIRELY in integer
    * arithmetic. F = 206.835 − 1.015·W/S − 84.6·Y/W involves two float
    * divisions, but the BAND test F ≥ t multiplies through by S·W > 0:
    * 206835·S·W − 1015·W² − 84600·Y·S ≥ 1000·t·S·W — plain longs, so the
    * easy(≥60)/standard(≥30)/difficult cuts replay bit-for-bit (the q106
    * cross-multiplication discipline). W counts raw tokens, S reuses
    * q237's synthesized-punctuation sentences, Y the vowel-group
    * syllable heuristic ([[graft.functions.TextFunctions.syllableCount]],
    * floored at 1 per token). Degenerate docs (S=0 or W=0) band to −1
    * instead of dividing by zero. Row-local end to end; the only
    * exchange is the presentation sort. */
  private def q241Readability(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ptext = regexp_replace($"text", "\\b(the|a)\\b", ".")
    val w = tokenCount($"text").cast("long")
    val s = sentenceCount(ptext).cast("long")
    val y = syllableCount($"text")
    val lhs = lit(206835L) * s * w - lit(1015L) * w * w -
      lit(84600L) * y * s
    Tables.documents(spark, dir)
      .select($"doc_id", w.as("n_words"), s.as("n_sentences"),
        y.as("n_syllables"),
        when(s === 0L || w === 0L, -1L)
          .when(lhs >= lit(60000L) * s * w, 2L)
          .when(lhs >= lit(30000L) * s * w, 1L)
          .otherwise(0L).as("band"))
      .orderBy($"doc_id")
  }

  private val q241Sql =
    """WITH feat AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |    CAST(len(list_filter(list_transform(
      |      regexp_split_to_array(
      |        regexp_replace(text, '\b(the|a)\b', '.', 'g'), '[.!?]+'),
      |      x -> trim(x)), x -> length(x) > 0)) AS BIGINT) AS n_sentences,
      |    CAST(list_sum(list_transform(string_split(lower(text), ' '),
      |      w -> greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1)))
      |      AS BIGINT) AS n_syllables
      |  FROM documents)
      |SELECT doc_id, n_words, n_sentences, n_syllables,
      |  CAST(CASE
      |    WHEN n_sentences = 0 OR n_words = 0 THEN -1
      |    WHEN 206835 * n_sentences * n_words - 1015 * n_words * n_words
      |         - 84600 * n_syllables * n_sentences
      |         >= 60000 * n_sentences * n_words THEN 2
      |    WHEN 206835 * n_sentences * n_words - 1015 * n_words * n_words
      |         - 84600 * n_syllables * n_sentences
      |         >= 30000 * n_sentences * n_words THEN 1
      |    ELSE 0 END AS BIGINT) AS band
      |FROM feat ORDER BY doc_id""".stripMargin

  /** Homoglyph-skeleton dedup (north star): the dedup/decontamination
    * EVASION countermeasure — a document that swaps Latin letters for
    * Cyrillic/Greek lookalikes (U+0430 'а' for 'a', …) reads identically
    * to a human but evades every exact-hash and shingle dedup in the
    * pipeline. Folding through
    * [[graft.functions.TextFunctions.homoglyphSkeleton]] (a fixed 1:1
    * TR39-style confusables table, one codegen `translate`) before
    * hashing collapses the evasion. The query plants corrupted copies of
    * every 5th document with the REVERSE mapping, then clusters by
    * skeleton md5: each planted copy must land in its source's cluster.
    * The oracle replays the identical translate chain (chr()-built FROM
    * string), so Spark's and DuckDB's unicode translate + md5 agree
    * under one hash — the cross-engine contract that makes the skeleton
    * a safe portable dedup key. Scale shape: one narrow map + one
    * hash aggregate on the 16-byte skeleton digest. */
  private def q242HomoglyphDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val planted = docs.filter($"doc_id" % 5 === 0)
      .select(($"doc_id" + 1000000L).as("doc_id"),
        translate($"text", "aeopcxy", q242Cyr).as("text"))
    docs.union(planted)
      .select($"doc_id", md5(homoglyphSkeleton($"text")).as("skeleton_hash"))
      .groupBy($"skeleton_hash")
      .agg(min($"doc_id").as("canonical_id"), count(lit(1)).as("n_copies"),
        concat_ws(",", sort_array(collect_list($"doc_id"))).as("ids"))
      .filter($"n_copies" > 1)
      .select($"canonical_id", $"n_copies", $"ids", $"skeleton_hash")
      .orderBy($"canonical_id")
  }

  /** The planted corruption: Latin -> Cyrillic lookalikes (the reverse
    * of the first seven skeleton pairs; code points pinned by the spec). */
  private val q242Cyr = "аеорсху"

  private val q242Sql = {
    val (hFrom, hTo) = graft.functions.TextFunctions.homoglyphTable
    val fromExpr = hFrom.map(c => s"chr(${c.toInt})").mkString(" || ")
    val cyrExpr = q242Cyr.map(c => s"chr(${c.toInt})").mkString(" || ")
    s"""WITH uni AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id,
       |    translate(text, 'aeopcxy', $cyrExpr) AS text
       |  FROM documents WHERE doc_id % 5 = 0),
       |sk AS (
       |  SELECT doc_id,
       |    md5(translate(text, $fromExpr, '$hTo')) AS skeleton_hash
       |  FROM uni)
       |SELECT min(doc_id) AS canonical_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_copies,
       |  array_to_string(list_sort(list(doc_id)), ',') AS ids,
       |  skeleton_hash
       |FROM sk GROUP BY skeleton_hash HAVING COUNT(*) > 1
       |ORDER BY canonical_id""".stripMargin
  }

  /** Corpus health dashboard (north star): the per-language one-pass
    * report a 100 TB curation run prints before anyone trains on the
    * output — readability band mix (q241's integer cuts), sentence-shape
    * flags (q237's contract), Gopher hard-gate pass counts (q217's rule,
    * inlined), and the raw sentence/syllable mass, every cell an exact
    * long. Scale shape: all signals are row-local codegen expressions,
    * so the whole dashboard is ONE narrow groupBy(lang) aggregate with
    * map-side partials — the report costs a single pass regardless of
    * corpus size. */
  private def q243CorpusHealth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ptext = regexp_replace($"text", "\\b(the|a)\\b", ".")
    val w = tokenCount($"text").cast("long")
    val s = sentenceCount(ptext).cast("long")
    val y = syllableCount($"text")
    val lhs = lit(206835L) * s * w - lit(1015L) * w * w -
      lit(84600L) * y * s
    val band = when(s === 0L || w === 0L, -1L)
      .when(lhs >= lit(60000L) * s * w, 2L)
      .when(lhs >= lit(30000L) * s * w, 1L)
      .otherwise(0L)
    val annotated = graft.operators.QualityRules.annotate(
      Tables.documents(spark, dir), "text")
    annotated
      .select($"lang", band.as("__band"), s.as("__s"), y.as("__y"),
        when($"gopher_pass", 1L).otherwise(0L).as("__gp"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"__band" === 2L, 1L).otherwise(0L)).as("n_easy"),
        sum(when($"__band" === 1L, 1L).otherwise(0L)).as("n_standard"),
        sum(when($"__band" === 0L, 1L).otherwise(0L)).as("n_difficult"),
        sum(when($"__band" === -1L, 1L).otherwise(0L)).as("n_degenerate"),
        sum(when($"__s" < 3L, 1L).otherwise(0L)).as("n_short_sentence_docs"),
        sum($"__gp").as("n_gopher_pass"),
        sum($"__s").as("total_sentences"),
        sum($"__y").as("total_syllables"))
      .orderBy($"lang")
  }

  private val q243Sql =
    """WITH words AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    CAST(COUNT(*) AS BIGINT) AS n_words,
      |    CAST(SUM(len(w)) AS BIGINT) AS sum_word_len,
      |    CAST(SUM(CASE WHEN regexp_matches(w, '[A-Za-z]') THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha_words,
      |    CAST(SUM(CASE WHEN w IN ('the','a','and','of','to','in','be','that','have','with')
      |             THEN 1 ELSE 0 END) AS BIGINT) AS n_stopwords
      |  FROM words GROUP BY doc_id),
      |feat AS (
      |  SELECT d.doc_id, d.lang,
      |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS w,
      |    CAST(len(list_filter(list_transform(
      |      regexp_split_to_array(
      |        regexp_replace(d.text, '\b(the|a)\b', '.', 'g'), '[.!?]+'),
      |      x -> trim(x)), x -> length(x) > 0)) AS BIGINT) AS s,
      |    CAST(list_sum(list_transform(string_split(lower(d.text), ' '),
      |      t -> greatest(len(regexp_extract_all(t, '[aeiouy]+')), 1)))
      |      AS BIGINT) AS y,
      |    CASE WHEN g.n_words BETWEEN 50 AND 100000
      |      AND g.sum_word_len >= 3 * g.n_words AND g.sum_word_len <= 10 * g.n_words
      |      AND g.n_alpha_words * 100 >= 80 * g.n_words
      |      AND g.n_stopwords >= 2 THEN 1 ELSE 0 END AS gp
      |  FROM documents d JOIN g ON d.doc_id = g.doc_id),
      |banded AS (
      |  SELECT lang, s, y, gp,
      |    CASE
      |      WHEN s = 0 OR w = 0 THEN -1
      |      WHEN 206835 * s * w - 1015 * w * w - 84600 * y * s
      |           >= 60000 * s * w THEN 2
      |      WHEN 206835 * s * w - 1015 * w * w - 84600 * y * s
      |           >= 30000 * s * w THEN 1
      |      ELSE 0 END AS band
      |  FROM feat)
      |SELECT lang,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN band = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_easy,
      |  CAST(SUM(CASE WHEN band = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_standard,
      |  CAST(SUM(CASE WHEN band = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_difficult,
      |  CAST(SUM(CASE WHEN band = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_degenerate,
      |  CAST(SUM(CASE WHEN s < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_short_sentence_docs,
      |  CAST(SUM(gp) AS BIGINT) AS n_gopher_pass,
      |  CAST(SUM(s) AS BIGINT) AS total_sentences,
      |  CAST(SUM(y) AS BIGINT) AS total_syllables
      |FROM banded GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** Evasion-resistant decontamination (north star): q86 proves
    * normalization-aware decontam catches REFORMATTED benchmark copies;
    * this closes the remaining hole q242 exposed — a benchmark document
    * re-encoded with homoglyphs normalizes to a DIFFERENT string, so the
    * normalized digest misses it and the eval set leaks into training.
    * The query plants homoglyph-corrupted copies of benchmark (src0)
    * rows into the current corpus and screens with BOTH digests: the
    * normalized one (misses the plants) and the skeleton-folded one
    * (catches them) — the per-source delta sits under the hash, so the
    * oracle certifies both that the evasion works against naive
    * decontam AND that the skeleton closes it. Scale shape: benchmark
    * digest sets are eval-corpus sized — broadcast semi-join material
    * by nature; everything else is row-local digest computation. */
  private def q246SkeletonDecontam(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val bench = docs.filter($"source" === "src0")
    val current = docs.filter($"source" =!= "src0")
      .select($"doc_id", $"source", $"text")
    val planted = bench.filter($"doc_id" % 7 === 0)
      .select(($"doc_id" + 2000000L).as("doc_id"),
        lit("planted").as("source"),
        translate($"text", "aeopcxy", q242Cyr).as("text"))
    def normD(c: org.apache.spark.sql.Column) = md5(normalizeText(c))
    def skelD(c: org.apache.spark.sql.Column) =
      md5(homoglyphSkeleton(normalizeText(c)))
    val benchNorm = bench.select(normD($"text").as("dn")).distinct()
    val benchSkel = bench.select(skelD($"text").as("ds")).distinct()
    current.unionByName(planted)
      .withColumn("__nd", normD($"text"))
      .withColumn("__sd", skelD($"text"))
      .join(broadcast(benchNorm), $"__nd" === $"dn", "left")
      .join(broadcast(benchSkel), $"__sd" === $"ds", "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_rows"),
        sum(when($"dn".isNotNull, 1L).otherwise(0L)).as("caught_naive"),
        sum(when($"ds".isNotNull, 1L).otherwise(0L)).as("caught_skeleton"))
      .orderBy($"source")
  }

  private val q246Sql = {
    val (hFrom, hTo) = graft.functions.TextFunctions.homoglyphTable
    val fromExpr = hFrom.map(c => s"chr(${c.toInt})").mkString(" || ")
    val cyrExpr = q242Cyr.map(c => s"chr(${c.toInt})").mkString(" || ")
    s"""WITH bench AS (
       |  SELECT doc_id, text FROM documents WHERE source = 'src0'),
       |cur AS (
       |  SELECT doc_id, source, text FROM documents WHERE source <> 'src0'),
       |corpus AS (
       |  SELECT doc_id, source, text FROM cur
       |  UNION ALL
       |  SELECT doc_id + 2000000 AS doc_id, 'planted' AS source,
       |    translate(text, 'aeopcxy', $cyrExpr) AS text
       |  FROM bench WHERE doc_id % 7 = 0),
       |bn AS (
       |  SELECT DISTINCT md5(trim(regexp_replace(lower(nfc_normalize(text)),
       |    '\\s+', ' ', 'g'))) AS dn FROM bench),
       |bs AS (
       |  SELECT DISTINCT md5(translate(trim(regexp_replace(
       |    lower(nfc_normalize(text)), '\\s+', ' ', 'g')),
       |    $fromExpr, '$hTo')) AS ds FROM bench),
       |flagged AS (
       |  SELECT c.source,
       |    CASE WHEN bn.dn IS NOT NULL THEN 1 ELSE 0 END AS hn,
       |    CASE WHEN bs.ds IS NOT NULL THEN 1 ELSE 0 END AS hs
       |  FROM corpus c
       |  LEFT JOIN bn ON md5(trim(regexp_replace(lower(nfc_normalize(c.text)),
       |    '\\s+', ' ', 'g'))) = bn.dn
       |  LEFT JOIN bs ON md5(translate(trim(regexp_replace(
       |    lower(nfc_normalize(c.text)), '\\s+', ' ', 'g')),
       |    $fromExpr, '$hTo')) = bs.ds)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(SUM(hn) AS BIGINT) AS caught_naive,
       |  CAST(SUM(hs) AS BIGINT) AS caught_skeleton
       |FROM flagged GROUP BY source
       |ORDER BY source""".stripMargin
  }

  /** Quality scoring: stopword ratio + mean token length + punctuation. */
  private def q19Quality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(
        $"doc_id",
        stopwordRatio($"text").as("stopword_ratio"),
        punctRatio($"text").as("punct_ratio"),
        qualityScore($"text").as("quality"))
      .orderBy($"doc_id")
  }

  // Mirror of TextFunctions.qualityScore / stopwordRatio / punctRatio.
  private val enList = "('the','a','of','and','to','is','in','that','it')"

  /** Shared CTE LIST (no WITH prefix): the add-0.5 bigram model fit on the
    * English slice and the per-doc decimal-exact log-prob sums — composed
    * by q56 (per-doc scores) and q85 (CCNet tercile buckets). */
  private val lmCtes =
    """words AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w,
      |         generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, lang, w AS w1,
      |         lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      |  FROM words QUALIFY w2 IS NOT NULL),
      |c2 AS (SELECT w1, w2, COUNT(*) AS c FROM bg WHERE lang = 'en' GROUP BY 1, 2),
      |c1 AS (SELECT w, COUNT(*) AS c FROM words WHERE lang = 'en' GROUP BY 1),
      |v AS (SELECT COUNT(DISTINCT w) AS v FROM words WHERE lang = 'en'),
      |lp_scored AS (
      |  SELECT b.doc_id,
      |    ln((COALESCE(c2.c, 0) + 0.5) / (COALESCE(c1.c, 0) + 0.5 * v.v)) AS lp
      |  FROM bg b
      |  LEFT JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
      |  LEFT JOIN c1 ON b.w1 = c1.w
      |  CROSS JOIN v),
      |perdoc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    CAST(CAST(SUM(CAST(lp AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
      |      AS sum_logprob
      |  FROM lp_scored GROUP BY doc_id)""".stripMargin

  /** Shared CTE LIST (no WITH prefix — callers prepend WITH RECURSIVE):
    * relational 3-gram Jaccard pairs at 0.5 and their transitive-closure
    * components, composed by q53 (cluster rollup) and q79 (quality-aware
    * keeper selection). */
  private val closureCtes =
    """words AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
      |         generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, w || ' ' || lead(w, 1) OVER o || ' ' || lead(w, 2) OVER o AS shingle
      |  FROM words WINDOW o AS (PARTITION BY doc_id ORDER BY pos)
      |  QUALIFY shingle IS NOT NULL),
      |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS i
      |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT id_a, id_b FROM inter
      |  JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
      |  WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5),
      |edges AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
      |reach(n, r) AS (
      |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      |  UNION
      |  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.n),
      |comp AS (SELECT n AS node, MIN(r) AS component FROM reach GROUP BY n)""".stripMargin
  private val q19Sql =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(string_split(text, ' '), w -> w IN $enList)) AS DOUBLE)
       |      / len(string_split(text, ' ')) AS swr,
       |    CASE WHEN length(text) = 0 THEN 0.0
       |         ELSE CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE)
       |           / length(text) END AS pr,
       |    CAST(length(replace(text, ' ', '')) AS DOUBLE)
       |      / len(string_split(text, ' ')) AS mtl
       |  FROM documents)
       |SELECT doc_id,
       |  swr AS stopword_ratio,
       |  pr AS punct_ratio,
       |  least(swr * 4.0, 1.0) * 0.4 + least(mtl / 8.0, 1.0) * 0.4
       |    + (1.0 - least(pr * 10.0, 1.0)) * 0.2 AS quality
       |FROM t
       |ORDER BY doc_id""".stripMargin

  /** Language ID per document + accuracy rollup vs the labeled lang col. */
  private def q20LangId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withLangId(Tables.documents(spark, dir), "text")
      .groupBy($"lang", $"pred_lang")
      .agg(count(lit(1)).as("n"))
      .orderBy($"lang", $"pred_lang")
  }

  private def hits(lang: String): String = {
    val list = stopwords(lang).map(w => s"'$w'").mkString("(", ",", ")")
    s"len(list_filter(string_split(text, ' '), w -> w IN $list))"
  }

  private val q20Sql =
    s"""WITH s AS (
       |  SELECT lang,
       |    ${hits("en")} AS s_en, ${hits("de")} AS s_de,
       |    ${hits("fr")} AS s_fr, ${hits("es")} AS s_es,
       |    greatest(${hits("en")}, ${hits("de")}, ${hits("fr")}, ${hits("es")}) AS best
       |  FROM documents)
       |SELECT lang,
       |  CASE WHEN s_en = best AND best > 0 THEN 'en'
       |       WHEN s_de = best AND best > 0 THEN 'de'
       |       WHEN s_fr = best AND best > 0 THEN 'fr'
       |       WHEN s_es = best AND best > 0 THEN 'es'
       |       ELSE 'und' END AS pred_lang,
       |  COUNT(*) AS n
       |FROM s
       |GROUP BY 1, 2
       |ORDER BY lang, pred_lang""".stripMargin

  /** Exact dedup groups by content digest (md5-groupBy). */
  private def q21ExactDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Dedup.exactDupGroups(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy($"text_hash")
  }

  private val q21Sql =
    """SELECT md5(text) AS text_hash, MIN(doc_id) AS canonical_id,
      |  COUNT(*) AS dup_count
      |FROM documents
      |GROUP BY 1
      |HAVING COUNT(*) >= 2
      |ORDER BY text_hash""".stripMargin

  /** Fingerprint dedup: sorted-distinct-token md5 groups permuted /
    * multiplicity-edited near-duplicates that exact dedup misses. */
  private def q22Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(fingerprint($"text").as("fp"), $"doc_id")
      .groupBy($"fp")
      .agg(min($"doc_id").as("canonical_id"), count(lit(1)).as("dup_count"))
      .filter($"dup_count" >= 2)
      .orderBy($"fp")
  }

  private val q22Sql =
    """SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
      |  MIN(doc_id) AS canonical_id, COUNT(*) AS dup_count
      |FROM documents
      |GROUP BY 1
      |HAVING COUNT(*) >= 2
      |ORDER BY fp""".stripMargin

  /** Exact pairwise 3-gram Jaccard >= 0.5 via the size-gated entry point:
    * below the gate the single-shuffle naive set-similarity join (the
    * measured winner at bench scale), above it the lossless PPJoin prefix
    * filter — so this default path cannot hit the naive form's quadratic
    * pair explosion on a large corpus. Both branches are proven equal in
    * DedupSpec; the gate itself is pinned in PlanSpec. */
  private def q23NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Dedup.jaccardPairsAuto(Tables.documents(spark, dir), "doc_id", "text",
        n = 3, minJac = 0.5)
      .orderBy($"id_a", $"id_b")
  }

  private val q23Sql =
    """WITH words AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
      |         generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, w || ' ' || lead(w, 1) OVER o || ' ' || lead(w, 2) OVER o AS shingle
      |  FROM words WINDOW o AS (PARTITION BY doc_id ORDER BY pos)
      |  QUALIFY shingle IS NOT NULL),
      |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS i
      |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |  round(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) AS jaccard
      |FROM inter
      |JOIN cnt ca ON ca.doc_id = id_a
      |JOIN cnt cb ON cb.doc_id = id_b
      |WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  /** MinHash+LSH near-dup pairs. The banding itself isn't SQL-expressible,
    * but the PIPELINE is exact-verified (LSH candidates → true Jaccard
    * >= 0.5), so its output is a subset of q23's relational answer, equal
    * exactly when the screen misses nothing — which is the quality claim.
    * Oracled with q23's all-pairs SQL: a recall regression in the banding
    * drops a row and fails the hash, turning the approximate path's
    * "trust the spec" into a DuckDB-checked verdict. */
  private def q24Minhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Dedup.minhashNearDupPairs(Tables.documents(spark, dir), "doc_id", "text",
        n = 3, k = 64, bands = 16, minJac = 0.5)
      .orderBy($"id_a", $"id_b")
  }

  /** SimHash near-dup pairs (hamming <= 3 over 64-bit fingerprints) —
    * rows-only check (the hamming column is engine-hash-specific);
    * verified against known near-dups in DedupSpec, and the same banding
    * machinery gets a full relational verdict in q67. */
  private def q25Simhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Dedup.simhashNearDupPairs(Tables.documents(spark, dir), "doc_id", "text",
        maxHamming = 3)
      .orderBy($"id_a", $"id_b")
  }

  /** Companion verdict for the SimHash machinery (q25): bit-chunk banding
    * at a generous hamming radius as the SCREEN, exact n-gram Jaccard as
    * the verdict. Equals q23's relational all-pairs answer whenever the
    * screen is lossless (observed max hamming among true pairs: 9; radius
    * 12 leaves margin), so the DuckDB hash check covers fingerprinting,
    * banding, candidate generation, and verification end to end. */
  private def q67SimhashScreen(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Dedup.simhashScreenedJaccardPairs(Tables.documents(spark, dir),
        "doc_id", "text", n = 3, minJac = 0.5, maxHamming = 12)
      .orderBy($"id_a", $"id_b")
  }

  /** Companion verdict for the persisted MinHash index (q65): every src0
    * batch doc with a TRUE near-duplicate (exact Jaccard >= 0.5) in the
    * standing corpus must be caught by the index screen. The engine
    * computes the true-partner set relationally and keeps only the docs
    * the probe dropped; the oracle computes the true-partner set alone.
    * Equality ⇔ the estimator screen recalled every real near-dup — a
    * missed doc vanishes from the engine side and fails the hash. */
  private def q71IndexScreenRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val path = q65IndexPath(dir)
    graft.operators.MinHashIndex.save(
      docs.filter($"source" =!= "src0"), "doc_id", "text", path)
    val dropped = graft.operators.MinHashIndex.probe(
        docs.filter($"source" === "src0"), "doc_id", "text", path,
        minEstJac = 0.5)
      .select($"doc_id").distinct()
    val src = docs.select($"doc_id", $"source")
    val truePartnered = Dedup.jaccardPairsAuto(docs, "doc_id", "text",
        n = 3, minJac = 0.5)
      .join(src.select($"doc_id".as("id_a"), $"source".as("sa")), "id_a")
      .join(src.select($"doc_id".as("id_b"), $"source".as("sb")), "id_b")
      .filter(($"sa" === "src0") =!= ($"sb" === "src0"))
      .select(when($"sa" === "src0", $"id_a").otherwise($"id_b").as("doc_id"))
      .distinct()
    truePartnered.join(dropped, Seq("doc_id"), "left_semi")
      .orderBy($"doc_id")
  }

  private val q71Sql =
    """WITH words AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
      |         generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, w || ' ' || lead(w, 1) OVER o || ' ' || lead(w, 2) OVER o AS shingle
      |  FROM words WINDOW o AS (PARTITION BY doc_id ORDER BY pos)
      |  QUALIFY shingle IS NOT NULL),
      |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS i
      |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT id_a, id_b FROM inter
      |  JOIN cnt ca ON ca.doc_id = id_a
      |  JOIN cnt cb ON cb.doc_id = id_b
      |  WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5)
      |SELECT DISTINCT CASE WHEN da.source = 'src0' THEN p.id_a ELSE p.id_b END AS doc_id
      |FROM pairs p
      |JOIN documents da ON da.doc_id = p.id_a
      |JOIN documents db ON db.doc_id = p.id_b
      |WHERE (da.source = 'src0') <> (db.source = 'src0')
      |ORDER BY doc_id""".stripMargin

  /** Regex extraction + substring filter (F7/F8/P6) on the source column. */
  private def q26RegexExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .filter($"text".contains("spark"))
      .select(
        $"doc_id",
        regexp_extract($"source", "src([0-9]+)", 1).as("src_num"),
        regexp_extract($"text", "^(\\w+)", 1).as("first_word"),
        substring($"text", 1, 12).as("prefix12"))
      .orderBy($"doc_id")
  }

  private val q26Sql =
    """SELECT doc_id,
      |  regexp_extract(source, 'src([0-9]+)', 1) AS src_num,
      |  regexp_extract(text, '^(\w+)', 1) AS first_word,
      |  substring(text, 1, 12) AS prefix12
      |FROM documents
      |WHERE contains(text, 'spark')
      |ORDER BY doc_id""".stripMargin

  /** Null-cleanup / cast chain (P3/P5/F13): trim-empty-to-null + casts. */
  private def q27Cleanup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(
        $"doc_id",
        when(length(trim($"lang")) === 0, lit(null)).otherwise(trim($"lang")).as("lang_clean"),
        upper($"source").as("source_upper"),
        $"n_chars".cast("int").as("n_chars_int"))
      .na.drop(Seq("lang_clean"))
      .orderBy($"doc_id")
  }

  private val q27Sql =
    """SELECT doc_id,
      |  nullif(trim(lang), '') AS lang_clean,
      |  upper(source) AS source_upper,
      |  CAST(n_chars AS INT) AS n_chars_int
      |FROM documents
      |WHERE nullif(trim(lang), '') IS NOT NULL
      |ORDER BY doc_id""".stripMargin

  /** Deterministic 80/10/10 train/val/test split by md5 hash bucket —
    * reproducible in any engine (the oracle recomputes the identical
    * assignment in DuckDB), stable under repartitioning; summarized per
    * (lang, split). */
  private def q43Split(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.Sampling.deterministicSplit(
        Tables.documents(spark, dir), "doc_id", "split:",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy($"lang", $"split")
      .agg(count(lit(1)).as("n_docs"),
        sum(octet_length($"text")).cast("long").as("chars"))
      .orderBy($"lang", $"split")
  }

  private val q43Sql =
    """WITH b AS (
      |  SELECT lang,
      |    substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) AS h,
      |    octet_length(encode(text)) AS len
      |  FROM documents)
      |SELECT lang,
      |  CASE WHEN h < 'cccccccc' THEN 'train'
      |       WHEN h < 'e6666666' THEN 'val'
      |       ELSE 'test' END AS split,
      |  COUNT(*) AS n_docs, CAST(SUM(len) AS BIGINT) AS chars
      |FROM b GROUP BY 1, 2
      |ORDER BY lang, split""".stripMargin

  /** Token-budget mixture cap: keep documents per source in deterministic
    * hash-priority order until each source has contributed 500 tokens —
    * the "at most N tokens per source" curation op. The engine runs
    * [[graft.operators.Sampling.tokenBudgetSample]]'s two-pass
    * prefix-histogram plan (no per-source global sort); the oracle states
    * the semantics directly as a window cumsum. */
  private def q74TokenBudget(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"source", tokenCount($"text").cast("long").as("n_tokens"))
    graft.operators.Sampling.tokenBudgetSample(
        docs, "doc_id", "n_tokens", "source", budget = 500L)
      .orderBy($"doc_id")
  }

  private val q74Sql =
    """WITH t AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    substr(md5('budget:' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, source, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM t)
      |SELECT doc_id, source, n_tokens
      |FROM c WHERE cum <= 500
      |ORDER BY doc_id""".stripMargin

  /** Weighted sample without replacement (north star): 100 documents
    * drawn with probability proportional to length — RNG-free
    * Efraimidis–Spirakis A-ES ([[graft.operators.Sampling
    * .weightedSample]]): reservoir key u^(1/w) from an md5-derived
    * uniform, top-k by key via ONE TakeOrdered (no global sort). The
    * oracle re-derives every key relationally and takes the same top-k
    * as a window rank — round-6 keys + id tie-break make the selected
    * set identical across engines (q28's pow/cosine portability
    * recipe). */
  private def q94WeightedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"lang", $"n_chars")
    graft.operators.Sampling.weightedSample(docs, "doc_id", "n_chars", k = 100)
      .orderBy($"doc_id")
  }

  private val q94Sql =
    """WITH t AS (
      |  SELECT doc_id, lang, n_chars,
      |    round(pow(
      |      (CAST(('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 8))
      |        AS UBIGINT) + 0.5) / 4294967296.0,
      |      1.0 / CAST(n_chars AS DOUBLE)), 6) AS wkey
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, lang, n_chars,
      |    row_number() OVER (ORDER BY wkey DESC, doc_id) AS rn
      |  FROM t)
      |SELECT doc_id, lang, n_chars
      |FROM r WHERE rn <= 100
      |ORDER BY doc_id""".stripMargin

  /** Misra–Gries heavy hitters at exact capacity (the q70-style oracle
    * trick): with capacity ≥ the true distinct term count the decrement
    * path never fires and the summary IS the exact count table, so
    * insert/merge/finish sit under the DuckDB hash; the sparse-capacity
    * sketch behavior (bounded memory, guaranteed heavies, undercount
    * bound) is HeavyHittersSpec's territory. */
  private def q105HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val terms = Tables.documents(spark, dir)
      .select(explode(split($"text", " ")).as("term"))
    graft.operators.HeavyHitters.summarize(terms, "term", capacity = 64)
  }

  private val q105Sql =
    """SELECT w AS item, COUNT(*) AS est_count
      |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |GROUP BY w
      |ORDER BY est_count DESC, item""".stripMargin

  /** Deterministic corpus shuffle into training shards: every document
    * gets (shard, pos) such that reading shards in (shard, pos) order
    * visits the corpus in a fixed pseudo-random permutation — the
    * "globally shuffle before training" op with no global sort (the rank
    * window runs per shard). The oracle re-derives the equal-width hash
    * range assignment as a pure CASE chain — no hex parsing — proving the
    * engine's conv()-based shard arithmetic against an independent
    * formulation. */
  private def q75ShuffleShards(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.Sampling.shuffleShards(
        Tables.documents(spark, dir), "doc_id", nShards = 8)
      .select($"doc_id", $"shard", $"pos")
      .orderBy($"shard", $"pos")
  }

  private val q75Sql =
    """WITH b AS (
      |  SELECT doc_id,
      |    substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, h,
      |    CASE WHEN h < '20000000' THEN 0
      |         WHEN h < '40000000' THEN 1
      |         WHEN h < '60000000' THEN 2
      |         WHEN h < '80000000' THEN 3
      |         WHEN h < 'a0000000' THEN 4
      |         WHEN h < 'c0000000' THEN 5
      |         WHEN h < 'e0000000' THEN 6
      |         ELSE 7 END AS shard
      |  FROM b)
      |SELECT doc_id, shard,
      |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS INT) AS pos
      |FROM s
      |ORDER BY shard, pos""".stripMargin

  /** Benchmark-contamination scan: treat every 10th doc as the "benchmark
    * set" and find corpus docs containing >= 80% of a benchmark doc's
    * 3-gram shingles. Containment, not Jaccard — a benchmark item pasted
    * into a longer doc still scores ~1. */
  private def q44Contamination(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    graft.operators.Contamination.ngramContainment(
        docs.filter($"doc_id" % 10 =!= 0), docs.filter($"doc_id" % 10 === 0),
        "doc_id", "text", n = 3, minContainment = 0.8)
      .orderBy($"corpus_id", $"bench_id")
  }

  private val q44Sql =
    """WITH words AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
      |         generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, w || ' ' || lead(w, 1) OVER o || ' ' || lead(w, 2) OVER o AS shingle
      |  FROM words WINDOW o AS (PARTITION BY doc_id ORDER BY pos)
      |  QUALIFY shingle IS NOT NULL),
      |bn AS (
      |  SELECT doc_id, COUNT(*) AS n_b FROM sh WHERE doc_id % 10 = 0 GROUP BY 1),
      |inter AS (
      |  SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id, COUNT(*) AS i
      |  FROM sh c JOIN sh b ON c.shingle = b.shingle
      |  WHERE c.doc_id % 10 != 0 AND b.doc_id % 10 = 0
      |  GROUP BY 1, 2)
      |SELECT corpus_id, bench_id,
      |  round(CAST(i AS DOUBLE) / bn.n_b, 6) AS containment
      |FROM inter JOIN bn ON bn.doc_id = bench_id
      |WHERE CAST(i AS DOUBLE) / bn.n_b >= 0.8
      |ORDER BY corpus_id, bench_id""".stripMargin

  /** The q44 contamination scan through the BLOOM-prefilter path: a
    * driver-built bloom over the benchmark's shingle hashes dismisses
    * clean corpus docs with a row-local codegen probe (no explode, no
    * join) before the exact containment pipeline verifies the rare
    * candidates. Bloom filters have no false negatives and verification
    * is exact, so the relation is IDENTICAL to q44 — the oracle SQL is
    * the same text, which is the point: two physical strategies, one
    * answer, both hash-checked independently. */
  private def q55ContaminationBloom(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    graft.operators.Contamination.ngramContainmentBloom(
        docs.filter($"doc_id" % 10 =!= 0), docs.filter($"doc_id" % 10 === 0),
        "doc_id", "text", n = 3, minContainment = 0.8)
      .orderBy($"corpus_id", $"bench_id")
  }

  /** Two-signal language ID confusion matrix: CJK-script ratio first,
    * stopword scorer fallthrough. (The fixture's zh-labeled docs are
    * synthetic English-token text, so here the matrix exercises the
    * fallthrough + the cross-engine unicode-regex agreement; real CJK
    * detection is unit-tested in TextFunctionsSpec.) */
  private def q45LangIdScript(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"lang", langIdScript($"text").as("pred_lang"))
      .groupBy($"lang", $"pred_lang")
      .agg(count(lit(1)).as("n"))
      .orderBy($"lang", $"pred_lang")
  }

  private val q45Sql =
    s"""WITH s AS (
       |  SELECT lang,
       |    length(regexp_replace(text, '[^一-鿿]', '', 'g')) * 1.0 /
       |      greatest(length(text), 1) AS cjk,
       |    ${hits("en")} AS s_en, ${hits("de")} AS s_de,
       |    ${hits("fr")} AS s_fr, ${hits("es")} AS s_es,
       |    greatest(${hits("en")}, ${hits("de")}, ${hits("fr")}, ${hits("es")}) AS best
       |  FROM documents)
       |SELECT lang,
       |  CASE WHEN cjk >= 0.3 THEN 'zh'
       |       WHEN s_en = best AND best > 0 THEN 'en'
       |       WHEN s_de = best AND best > 0 THEN 'de'
       |       WHEN s_fr = best AND best > 0 THEN 'fr'
       |       WHEN s_es = best AND best > 0 THEN 'es'
       |       ELSE 'und' END AS pred_lang,
       |  COUNT(*) AS n
       |FROM s
       |GROUP BY 1, 2
       |ORDER BY lang, pred_lang""".stripMargin

  /** Corpus vocabulary statistics: term frequency + document frequency per
    * token — the df table that drives stopword lists, PPJoin prefix
    * ordering, and tf-idf weighting. One explode + one map-side-combined
    * aggregation on the term key; the tf floor keeps the long tail out of
    * the result without changing the aggregation shape. */
  private def q47TermStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", explode(tokens($"text")).as("term"))
      .groupBy($"term")
      .agg(count(lit(1)).as("tf"), countDistinct($"doc_id").as("df"))
      .filter($"tf" >= 50)
      .orderBy($"term")
  }

  private val q47Sql =
    """SELECT w AS term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      |GROUP BY w
      |HAVING COUNT(*) >= 50
      |ORDER BY term""".stripMargin

  /** TF-IDF weights in flat exploded form (doc_id, vocab idx, weight) so
    * the sparse vectors hash-compare across engines. Vocabulary = top 200
    * terms by (df DESC, term ASC); smooth idf ln((N+1)/(df+1)) + 1. */
  private def q48Tfidf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val vocab = graft.operators.TfIdf.fitVocab(docs, "doc_id", "text", vocabSize = 200)
    // keepEmpty=false: the explode drops empty vectors anyway, so the
    // totality join would be a pure extra corpus pass
    graft.operators.TfIdf.vectorize(docs, "doc_id", "text", vocab, keepEmpty = false)
      .select($"doc_id",
        explode(arrays_zip($"indices", $"weights")).as("iw"))
      .select($"doc_id", $"iw.indices".as("idx"),
        round($"iw.weights", 6).as("w"))
      .orderBy($"doc_id", $"idx")
  }

  private val q48Sql =
    """WITH tokens AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tokens GROUP BY 1),
      |vocab AS (
      |  SELECT term, row_number() OVER (ORDER BY df DESC, term ASC) - 1 AS idx,
      |    ln(((SELECT COUNT(*) FROM documents) + 1.0) / (df + 1.0)) + 1.0 AS idf
      |  FROM df ORDER BY df DESC, term ASC LIMIT 200),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tokens GROUP BY 1, 2)
      |SELECT t.doc_id, CAST(v.idx AS INT) AS idx, round(t.tf * v.idf, 6) AS w
      |FROM tf t JOIN vocab v USING (term)
      |ORDER BY doc_id, idx""".stripMargin

  /** BM25 ranked retrieval (north star): top-20 documents for the query
    * `spark merge join` (operators/Bm25 — row-local tf kernels, one
    * aggregate job for the corpus statistics, TakeOrdered top-k). The
    * oracle restates the exact expression tree relationally; ranking
    * keys on the ROUNDED score + id (the q28 discipline), so the hash
    * pins scores AND order. */
  private def q119Bm25Search(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Bm25.search(Tables.documents(spark, dir),
      "doc_id", "text", Seq("spark", "merge", "join"), k = 20)

  private val q119Sql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |base AS (
      |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
      |    CAST(len(list_filter(ws, x -> x = 'spark')) AS BIGINT) AS tf0,
      |    CAST(len(list_filter(ws, x -> x = 'merge')) AS BIGINT) AS tf1,
      |    CAST(len(list_filter(ws, x -> x = 'join')) AS BIGINT) AS tf2
      |  FROM d),
      |stats AS (
      |  SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
      |    SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
      |    SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
      |    SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
      |  FROM base)
      |SELECT b.doc_id, b.tf0 AS tf_spark, b.tf1 AS tf_merge, b.tf2 AS tf_join,
      |  round(
      |    ln((s.n - s.df0 + 0.5) / (s.df0 + 0.5) + 1) * (b.tf0 * 2.2) / (b.tf0 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl))
      |  + ln((s.n - s.df1 + 0.5) / (s.df1 + 0.5) + 1) * (b.tf1 * 2.2) / (b.tf1 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl))
      |  + ln((s.n - s.df2 + 0.5) / (s.df2 + 0.5) + 1) * (b.tf2 * 2.2) / (b.tf2 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl)), 6) AS score
      |FROM base b CROSS JOIN stats s
      |ORDER BY score DESC, doc_id
      |LIMIT 20""".stripMargin

  /** Indexed BM25 retrieval (north star): the same query as q119 served
    * from the PERSISTED inverted index (operators/TextIndex — postings
    * partitionBy(term-hash bucket), doc length denormalized into each
    * posting, meta carries the corpus stats; the probe reads only the
    * query terms' bucket files). Oracle: q119's relational scan SQL —
    * index-vs-scan equality is the whole correctness claim, the q70
    * full-probe pattern applied to text retrieval. */
  private def q121IndexedBm25(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val path = q121IndexPath(dir)
    graft.operators.TextIndex.save(docs, "doc_id", "text", path)
    graft.operators.TextIndex.probe(spark, path,
      Seq("spark", "merge", "join"), k = 20)
  }

  private def q121IndexPath(dir: String): String =
    graft.core.Scratch.dir(dir, "bm25")

  /** Targeted delete on the persisted inverted index (right-to-be-
    * forgotten, north star): build over the full corpus, DELETE every
    * doc_id ≡ 0 (mod 7) via [[graft.operators.TextIndex.delete]]
    * (filtered rewrite under StagedSwap, meta recomputed from the docs
    * sidecar), then probe. The oracle runs the BM25 scan over documents
    * WITHOUT the deleted rows — so the hash pins not just the absence
    * of deleted ids but the CORRECTED corpus statistics: idf's N and
    * per-term df and avgdl all shrink with the deletion, and a
    * tombstone design serving stale stats would score (and rank)
    * differently and fail here. Probe-side plan is q121's (bucket-file
    * pruning, postings-proportional work). */
  private def q213IndexDelete(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val path = q213IndexPath(dir)
    graft.operators.TextIndex.save(docs, "doc_id", "text", path)
    graft.operators.TextIndex.delete(spark, path,
      docs.filter($"doc_id" % 7 === 0).select($"doc_id"))
    graft.operators.TextIndex.probe(spark, path,
      Seq("spark", "merge", "join"), k = 20)
  }

  private def q213IndexPath(dir: String): String =
    graft.core.Scratch.dir(dir, "bm25del")

  /** Batched BM25 retrieval (north star): THREE queries served by ONE
    * distributed plan over the persisted index
    * ([[graft.operators.TextIndex.probeAll]] — bucket-pruned postings,
    * one broadcast (query, term, idf) join, per-(query, doc) sorted-fold
    * score aggregate, WindowGroupLimit top-k). The serving shape q121's
    * single probe can't reach: a retrieval-eval sweep or RAG batch
    * through `probe` is a driver loop of N small jobs, while this plan's
    * shape is independent of the query count (TextIndexSpec pins
    * batched ≡ N single probes row-for-row AND the constant-scan-count
    * plan property). The oracle replays all three queries relationally —
    * the q119 scoring pattern generalized over a VALUES query-terms
    * table — so the hash pins scores, per-query ranking, and the miss
    * semantics (a term absent from a query's documents contributes
    * nothing) at once. */
  private def q225BatchedProbe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val path = graft.core.Scratch.dir(dir, "bm25all")
    graft.operators.TextIndex.save(docs, "doc_id", "text", path)
    val queries = Seq(
      (0L, Seq("spark", "merge", "join")),
      (1L, Seq("window")),
      (2L, Seq("vector", "scan"))).toDF("query_id", "terms")
    graft.operators.TextIndex.probeAll(
        queries, "query_id", "terms", path, k = 10)
      .orderBy($"query_id", $"rank")
  }

  /** q119's BM25 arithmetic over a (query_id, term) VALUES table: df and
    * tf from one token explosion, per-(query, doc) contribution sum,
    * rank window per query — the relational form of the batched probe. */
  private val q225Sql =
    """WITH q(query_id, term) AS (VALUES
      |  (0, 'spark'), (0, 'merge'), (0, 'join'),
      |  (1, 'window'),
      |  (2, 'vector'), (2, 'scan')),
      |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |         FROM documents),
      |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      |       FROM documents),
      |stats AS (SELECT COUNT(*) AS n,
      |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
      |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      |       FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
      |contrib AS (
      |  SELECT q.query_id, tf.doc_id,
      |    ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1) * (tf.tf * 2.2) /
      |      (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS c
      |  FROM q JOIN tf USING (term) JOIN df USING (term)
      |    JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s),
      |scored AS (SELECT query_id, doc_id, round(SUM(c), 6) AS score
      |  FROM contrib GROUP BY 1, 2),
      |ranked AS (SELECT query_id, doc_id, score,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY score DESC, doc_id) AS rank
      |  FROM scored)
      |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score,
      |  CAST(rank AS BIGINT) AS rank
      |FROM ranked WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  /** Serving parity for a STREAM-MAINTAINED index (north star): the
    * corpus is ingested through the LIVE ingest stream in two
    * micro-batches with the in-stream [[graft.streaming.StreamingJobs
    * .MaintenancePolicy]] knob on (everyNBatches = 2, keepLast = 2), so
    * the foreachBatch itself runs recover → compact-iff-fragmented →
    * fsck gate → incremental snapshot → prune after the SECOND batch —
    * no external scheduler, and BOTH due-gate verdicts exercised in one
    * stream (batch 0 not-due, batch 1 due; r14 ran the full cycle on
    * every batch, which doubled the fixture-scale job count for no
    * extra coverage — the restored generation, and therefore the hash,
    * is identical because the LAST cycle is the one restored from).
    * The live generation is then POISONED (every
    * doc_id ≡ 0 mod 3 deleted) and rolled back through the LAST
    * in-stream snapshot, and one batched probeAll plan answers three
    * queries. The hash pins, at once: streamed appends produce a corpus
    * ≡ a batch build (stats included), the in-stream cycle's snapshot
    * is a REAL restorable generation (a stale or partial freeze would
    * leave the poison visible and fail), and the probe arithmetic —
    * the q227 discipline with the lifecycle driven by the stream
    * itself (r13 verdict Next #1). Deliberately SHARES q225Sql (the
    * q221/q119 precedent): the restore makes the poison invisible, so
    * the claim is "stream-maintained + restored ≡ the plain
    * full-corpus probe". Cost note: fixture-scale runtime is
    * DRIVER-LATENCY-bound (dozens of small jobs across the stream +
    * two cycles), not data-bound — the q191/q193 class. The ingest feed
    * is a FILE-SOURCE stream (each batch's parquet lands in a watched
    * dir), so no corpus rows ever pass through the driver. Re-runnable
    * by design: the scratch root (checkpoint, feed, index) is cleared
    * at entry — bench's two passes each drive a fresh stream. */
  private def q247StreamMaintainedProbe(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val root = graft.core.Scratch.dir(dir, "bm25smx")
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(rootPath) && !fs.delete(rootPath, true))
      throw new java.io.IOException(s"cannot reset scratch $root")
    val feed = s"$root/feed"
    val idx = s"$root/index"
    fs.mkdirs(new org.apache.hadoop.fs.Path(feed))
    val q = graft.streaming.StreamingJobs.indexOnArrival(
        spark.readStream.schema(docs.schema).parquet(feed),
        "doc_id", "text", idx, s"$root/ckpt",
        clearCachePerBatch = false,
        // no per-batch auto-compact knob here: the cycle's own
        // compact-iff-fragmented step covers it, and running both would
        // pay the compaction scan twice per due batch
        maintenance = Some(graft.streaming.StreamingJobs
          .MaintenancePolicy(everyNBatches = 2, keepLast = 2)))
      .start()
    try {
      (0 to 1).foreach { b =>
        docs.filter($"doc_id" % 2 === b)
          .write.mode("append").parquet(feed)
        q.processAllAvailable()
      }
    } finally q.stop()
    graft.operators.TextIndex.delete(spark, idx,
      docs.filter($"doc_id" % 3 === 0).select($"doc_id"))
    // zero-padded auto tags sort lexically in batch order, so max() IS
    // the newest in-stream snapshot
    val last = graft.operators.IndexSnapshots.list(spark, idx)
      .agg(max($"tag")).head().getString(0)
    graft.operators.IndexSnapshots.restore(spark, idx, last)
    val queries = Seq(
      (0L, Seq("spark", "merge", "join")),
      (1L, Seq("window")),
      (2L, Seq("vector", "scan"))).toDF("query_id", "terms")
    graft.operators.TextIndex.probeAll(
        queries, "query_id", "terms", idx, k = 10)
      .orderBy($"query_id", $"rank")
  }

  /** Snapshot erasure exposure (north star): the right-to-be-forgotten
    * blind spot, closed and hash-pinned. The families' `delete` scrubs
    * the LIVE generation, but every standing snapshot keeps the
    * pre-delete corpus — a "forgotten" document stays RESTORABLE until
    * retention rotates the tag out. The chain: save the corpus, freeze
    * tag `pre`, forget every doc_id ≡ 0 mod 5, freeze tag `post`
    * (clean), then [[graft.operators.IndexSnapshots.exposure]] — one
    * (tag, n_exposed) row per standing snapshot, reading ONLY the
    * id-bearing artifact through the object store, no view
    * materialization — and
    * [[graft.operators.IndexSnapshots.scrubSnapshots]], which DROPS
    * exposed tags (rewriting inside a frozen tag would corrupt the
    * meta↔artifact invariants fsck pins) and GCs their objects. The
    * hash pins: `pre` exposes EXACTLY the forgotten count, `post`
    * exposes zero, and after the scrub only `post` stands — a stale
    * surviving tag or an under-counted exposure both fail the compare. */
  private def q250SnapshotExposure(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val path = graft.core.Scratch.dir(dir, "bm25scrub")
    graft.operators.TextIndex.save(docs, "doc_id", "text", path)
    // bench reruns in one process over one Scratch dir: drop last
    // pass's tags before re-snapshotting (snapshots are immutable)
    Seq("pre", "post").foreach { t =>
      if (graft.operators.IndexSnapshots.list(spark, path)
          .filter($"tag" === t).head(1).nonEmpty)
        graft.operators.IndexSnapshots.drop(spark, path, t)
    }
    graft.operators.IndexSnapshots.snapshotIncremental(spark, path, "pre")
    val forget = docs.filter($"doc_id" % 5 === 0).select($"doc_id")
    graft.operators.TextIndex.delete(spark, path, forget)
    graft.operators.IndexSnapshots.snapshotIncremental(spark, path, "post")
    // materialize the pre-scrub report BEFORE scrubbing: its lineage
    // reads the very snapshot dirs the scrub will delete
    val before = graft.operators.IndexSnapshots
      .exposure(spark, path, forget, graft.operators.TextIndex.lifecycle)
      .select(lit("exposure").as("stage"), $"tag", $"n_exposed".as("n"))
      .localCheckpoint()
    graft.operators.IndexSnapshots.scrubSnapshots(
      spark, path, forget, graft.operators.TextIndex.lifecycle)
    val standing = graft.operators.IndexSnapshots
      .exposure(spark, path, forget, graft.operators.TextIndex.lifecycle)
      .select(lit("standing").as("stage"), $"tag", $"n_exposed".as("n"))
    before.unionByName(standing).orderBy($"stage", $"tag")
  }

  private val q250Sql =
    """WITH n5 AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id % 5 = 0)
      |SELECT 'exposure' AS stage, 'post' AS tag, CAST(0 AS BIGINT) AS n
      |UNION ALL
      |SELECT 'exposure' AS stage, 'pre' AS tag, CAST(n AS BIGINT) AS n FROM n5
      |UNION ALL
      |SELECT 'standing' AS stage, 'post' AS tag, CAST(0 AS BIGINT) AS n
      |ORDER BY stage, tag""".stripMargin

  /** Served-answers erasure (north star): the LAST place a forgotten
    * document stood. The forget fan-out scrubs the index families,
    * standing snapshots (q250), and the curated corpus — but the probe
    * streams' answer dirs retain forgotten doc_ids as ranked hits. The
    * chain, every data-plane step through the LIVE streams: the three
    * standing queries are served by [[graft.streaming.StreamingJobs
    * .probeOnArrival]] into a write-once answers dir, then an erasure
    * feed drains through [[graft.streaming.StreamingJobs
    * .forgetOnArrival]] fanning out to the index AND the
    * [[graft.streaming.StreamingJobs.ServedAnswersAt]] target (doc_id ≡
    * 0 mod 5 forgotten). The hash pins GAP semantics cross-engine: the
    * oracle recomputes the FULL-corpus ranking (answers were served
    * before the erasure, so surviving scores and rank numbers are the
    * pre-erasure ones) and drops the forgotten rows KEEPING their rank
    * numbers — a recompacted rank, a stale surviving hit, or an
    * over-deleted survivor all fail the compare. Re-runnable by design
    * (scratch root cleared at entry — bench's passes each drive fresh
    * streams). */
  private def q251AnswersErasure(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val root = graft.core.Scratch.dir(dir, "anserase")
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(rootPath) && !fs.delete(rootPath, true))
      throw new java.io.IOException(s"cannot reset scratch $root")
    val idx = s"$root/index"
    val out = s"$root/answers"
    graft.operators.TextIndex.save(docs, "doc_id", "text", idx)
    val queries = Seq(
      (0L, Seq("spark", "merge", "join")),
      (1L, Seq("window")),
      (2L, Seq("vector", "scan"))).toDF("query_id", "terms")
    val qfeed = s"$root/qfeed"
    fs.mkdirs(new org.apache.hadoop.fs.Path(qfeed))
    val serve = graft.streaming.StreamingJobs.probeOnArrival(
        spark.readStream.schema(queries.schema).parquet(qfeed),
        "query_id", "terms", idx, out, s"$root/sckpt", k = 10,
        clearCachePerBatch = false)
      .start()
    try {
      queries.write.mode("append").parquet(qfeed)
      serve.processAllAvailable()
    } finally serve.stop()
    val forgetIds = docs.filter($"doc_id" % 5 === 0).select($"doc_id")
    val ffeed = s"$root/ffeed"
    fs.mkdirs(new org.apache.hadoop.fs.Path(ffeed))
    val forget = graft.streaming.StreamingJobs.forgetOnArrival(
        spark.readStream.schema(forgetIds.schema).parquet(ffeed), "doc_id",
        Seq(graft.streaming.StreamingJobs.TextIndexAt(idx),
          graft.streaming.StreamingJobs.ServedAnswersAt(out, "doc_id")),
        s"$root/fckpt", clearCachePerBatch = false)
      .start()
    try {
      forgetIds.write.mode("append").parquet(ffeed)
      forget.processAllAvailable()
    } finally forget.stop()
    spark.read.parquet(out)
      .select($"query_id", $"doc_id", $"score", $"rank")
      .orderBy($"query_id", $"rank")
  }

  /** q225's relational replay MINUS the forgotten rows, rank numbers
    * KEPT (the gap-semantics pin): scores and ranks compute over the
    * FULL corpus — the answers were served before the erasure — and the
    * forgotten filter applies AFTER ranking. */
  private val q251Sql =
    """WITH q(query_id, term) AS (VALUES
      |  (0, 'spark'), (0, 'merge'), (0, 'join'),
      |  (1, 'window'),
      |  (2, 'vector'), (2, 'scan')),
      |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |         FROM documents),
      |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      |       FROM documents),
      |stats AS (SELECT COUNT(*) AS n,
      |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
      |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      |       FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
      |contrib AS (
      |  SELECT q.query_id, tf.doc_id,
      |    ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1) * (tf.tf * 2.2) /
      |      (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS c
      |  FROM q JOIN tf USING (term) JOIN df USING (term)
      |    JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s),
      |scored AS (SELECT query_id, doc_id, round(SUM(c), 6) AS score
      |  FROM contrib GROUP BY 1, 2),
      |ranked AS (SELECT query_id, doc_id, score,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY score DESC, doc_id) AS rank
      |  FROM scored)
      |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score,
      |  CAST(rank AS BIGINT) AS rank
      |FROM ranked WHERE rank <= 10 AND doc_id % 5 <> 0
      |ORDER BY query_id, rank""".stripMargin

  /** MinHash screen recall AFTER the index lifecycle (north star): q71
    * gates the banding screen's recall over a fresh save; this gates it
    * over the mutation chain a production dedup index actually lives on
    * — save half the standing corpus, append the other half, DELETE a
    * slice (doc_id ≡ 0 mod 9), compact — closing the r13 verdict's Next
    * #5 seam. Two claims under one hash:
    *  - `caught` rows: every src0 doc with a TRUE near-duplicate (exact
    *    3-gram Jaccard ≥ 0.5) in the POST-DELETE standing corpus is
    *    flagged by the index screen — a lifecycle-induced recall
    *    regression (bands lost in append/compact) drops a row and
    *    fails the hash;
    *  - `stale_match` rows: NO probe hit may reference a deleted id —
    *    delete leaving stale band rows would add rows the oracle does
    *    not have, failing the hash from the other side.
    * The oracle re-derives the true-partner set relationally with the
    * same standing-corpus filter and emits zero stale rows. */
  private def q248MinhashLifecycleRecall(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val path = graft.core.Scratch.dir(dir, "mhlc")
    val corpus = docs.filter($"source" =!= "src0")
    graft.operators.MinHashIndex.save(
      corpus.filter($"doc_id" % 2 === 0), "doc_id", "text", path)
    graft.operators.MinHashIndex.append(
      corpus.filter($"doc_id" % 2 === 1), "doc_id", "text", path)
    graft.operators.MinHashIndex.delete(spark, path,
      corpus.filter($"doc_id" % 9 === 0).select($"doc_id"))
    graft.operators.MinHashIndex.compact(spark, path)
    // probe ONCE: both the stale and dropped branches read the hits, and
    // Spark re-executes common subtrees (the q239 localCheckpoint rule)
    val hits = graft.operators.MinHashIndex.probe(
        docs.filter($"source" === "src0"), "doc_id", "text", path,
        minEstJac = 0.5)
      .localCheckpoint()
    val stale = hits
      .join(corpus.filter($"doc_id" % 9 === 0)
        .select($"doc_id".as("corpus_id")), Seq("corpus_id"), "left_semi")
      .select($"corpus_id".as("doc_id")).distinct()
      .withColumn("kind", lit("stale_match"))
    val dropped = hits.select($"doc_id").distinct()
    val src = docs.select($"doc_id", $"source")
    val truePartnered = Dedup.jaccardPairsAuto(docs, "doc_id", "text",
        n = 3, minJac = 0.5)
      .join(src.select($"doc_id".as("id_a"), $"source".as("sa")), "id_a")
      .join(src.select($"doc_id".as("id_b"), $"source".as("sb")), "id_b")
      .filter(($"sa" === "src0") =!= ($"sb" === "src0"))
      // the partner must be in the POST-DELETE standing corpus
      .filter(when($"sa" === "src0", $"id_b").otherwise($"id_a") % 9 =!= 0)
      .select(when($"sa" === "src0", $"id_a").otherwise($"id_b").as("doc_id"))
      .distinct()
    truePartnered.join(dropped, Seq("doc_id"), "left_semi")
      .withColumn("kind", lit("caught"))
      .unionByName(stale)
      .orderBy($"doc_id", $"kind")
  }

  /** q71Sql with the post-delete standing-corpus filter; zero
    * stale_match rows by construction. */
  private val q248Sql =
    """WITH words AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
      |         generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, w || ' ' || lead(w, 1) OVER o || ' ' || lead(w, 2) OVER o AS shingle
      |  FROM words WINDOW o AS (PARTITION BY doc_id ORDER BY pos)
      |  QUALIFY shingle IS NOT NULL),
      |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS i
      |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT id_a, id_b FROM inter
      |  JOIN cnt ca ON ca.doc_id = id_a
      |  JOIN cnt cb ON cb.doc_id = id_b
      |  WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5)
      |SELECT DISTINCT CASE WHEN da.source = 'src0' THEN p.id_a ELSE p.id_b END AS doc_id,
      |  'caught' AS kind
      |FROM pairs p
      |JOIN documents da ON da.doc_id = p.id_a
      |JOIN documents db ON db.doc_id = p.id_b
      |WHERE (da.source = 'src0') <> (db.source = 'src0')
      |  AND (CASE WHEN da.source = 'src0' THEN db.doc_id ELSE da.doc_id END) % 9 <> 0
      |ORDER BY doc_id, kind""".stripMargin

  /** The batched probe against a MUTATED index (north star): q225 pins
    * probeAll over a fresh save; this pins it over the LIFECYCLE path a
    * serving index actually lives on — save, targeted delete (doc_id ≡
    * 0 mod 5), then upsert (every surviving doc_id ≡ 0 mod 7 re-ingested
    * with edited text), then ONE batched plan for three queries. The
    * hash therefore pins the corrected post-delete df/N stats, the
    * upsert's replace semantics (old postings gone, new "refreshed"
    * token scored), and the batched scoring arithmetic at once; the
    * oracle replays the mutated corpus relationally. */
  private def q228BatchedProbeLifecycle(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val path = graft.core.Scratch.dir(dir, "bm25alllc")
    graft.operators.TextIndex.save(docs, "doc_id", "text", path)
    graft.operators.TextIndex.delete(spark, path,
      docs.filter($"doc_id" % 5 === 0).select($"doc_id"))
    graft.operators.TextIndex.upsert(
      docs.filter($"doc_id" % 5 =!= 0 && $"doc_id" % 7 === 0)
        .select($"doc_id", concat($"text", lit(" refreshed")).as("text")),
      "doc_id", "text", path)
    val queries = Seq(
      (0L, Seq("spark", "merge", "join")),
      (1L, Seq("refreshed")),
      (2L, Seq("vector", "scan"))).toDF("query_id", "terms")
    graft.operators.TextIndex.probeAll(
        queries, "query_id", "terms", path, k = 10)
      .orderBy($"query_id", $"rank")
  }

  /** q225's relational replay over the MUTATED corpus: rows ≡ 0 (mod 5)
    * dropped, surviving rows ≡ 0 (mod 7) re-texted, stats recomputed. */
  private val q228Sql =
    """WITH q(query_id, term) AS (VALUES
      |  (0, 'spark'), (0, 'merge'), (0, 'join'),
      |  (1, 'refreshed'),
      |  (2, 'vector'), (2, 'scan')),
      |docs2 AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN text || ' refreshed'
      |         ELSE text END AS text
      |  FROM documents WHERE doc_id % 5 <> 0),
      |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |         FROM docs2),
      |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      |       FROM docs2),
      |stats AS (SELECT COUNT(*) AS n,
      |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
      |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      |       FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
      |contrib AS (
      |  SELECT q.query_id, tf.doc_id,
      |    ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1) * (tf.tf * 2.2) /
      |      (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS c
      |  FROM q JOIN tf USING (term) JOIN df USING (term)
      |    JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s),
      |scored AS (SELECT query_id, doc_id, round(SUM(c), 6) AS score
      |  FROM contrib GROUP BY 1, 2),
      |ranked AS (SELECT query_id, doc_id, score,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY score DESC, doc_id) AS rank
      |  FROM scored)
      |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score,
      |  CAST(rank AS BIGINT) AS rank
      |FROM ranked WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  /** q119's scan SQL restricted to the surviving corpus — the stats
    * CTE recomputes N/df/avgdl over the filtered set, exactly what
    * TextIndex.delete's corrected meta must reproduce. */
  private val q213Sql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |           WHERE doc_id % 7 <> 0),
      |base AS (
      |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
      |    CAST(len(list_filter(ws, x -> x = 'spark')) AS BIGINT) AS tf0,
      |    CAST(len(list_filter(ws, x -> x = 'merge')) AS BIGINT) AS tf1,
      |    CAST(len(list_filter(ws, x -> x = 'join')) AS BIGINT) AS tf2
      |  FROM d),
      |stats AS (
      |  SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
      |    SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
      |    SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
      |    SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
      |  FROM base)
      |SELECT b.doc_id, b.tf0 AS tf_spark, b.tf1 AS tf_merge, b.tf2 AS tf_join,
      |  round(
      |    ln((s.n - s.df0 + 0.5) / (s.df0 + 0.5) + 1) * (b.tf0 * 2.2) / (b.tf0 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl))
      |  + ln((s.n - s.df1 + 0.5) / (s.df1 + 0.5) + 1) * (b.tf1 * 2.2) / (b.tf1 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl))
      |  + ln((s.n - s.df2 + 0.5) / (s.df2 + 0.5) + 1) * (b.tf2 * 2.2) / (b.tf2 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl)), 6) AS score
      |FROM base b CROSS JOIN stats s
      |ORDER BY score DESC, doc_id
      |LIMIT 20""".stripMargin

  /** Per-document drop ledger — the "why was THIS document removed"
    * audit a curation pipeline owes its users, emitted as one
    * (doc_id, reason) row per input document with FIRST-FAILURE-WINS
    * attribution across three ordered stages: language filter
    * (script+stopword langid ≠ 'en'), Gopher hard quality gates, exact
    * dedup (md5 keeper = lowest doc_id AMONG STAGE SURVIVORS — dedup
    * runs after filtering, so a dup whose earlier copies were all
    * quality-dropped is KEPT, which a naive corpus-wide keeper would
    * get wrong). Every rule is integer/string-exact, so the whole
    * ledger replays relationally; the survivor-rank is one cumulative
    * window per md5 group (no corpus-global window, no text rejoin). */
  private def q224DropLedger(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wH = org.apache.spark.sql.expressions.Window
      .partitionBy($"__h").orderBy($"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    Tables.documents(spark, dir)
      // all text-derived columns compute BEFORE the window so its
      // exchange shuffles (doc_id, digest, two booleans), never the text
      .select($"doc_id", md5($"text").as("__h"),
        (langIdScript($"text") === "en").as("__en"),
        graft.operators.QualityRules.passes("text").as("__gopher"))
      .withColumn("__surv_rank",
        sum(when($"__en" && $"__gopher", 1L).otherwise(0L)).over(wH))
      .select($"doc_id",
        when(!$"__en", lit("lang_filter"))
          .when(!$"__gopher", lit("gopher_quality"))
          .when($"__surv_rank" > 1, lit("exact_dup"))
          .otherwise(lit("kept")).as("reason"))
      .orderBy($"doc_id")
  }

  /** The three stages replayed relationally: q45's langid CASE per doc,
    * q58's Gopher rule arithmetic, and a per-md5 survivor cumsum. */
  private val q224Sql =
    s"""WITH words AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |g AS (
       |  SELECT doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(len(w)) AS BIGINT) AS sum_word_len,
       |    CAST(SUM(CASE WHEN regexp_matches(w, '[A-Za-z]') THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha,
       |    CAST(SUM(CASE WHEN w IN ('the','a','and','of','to','in','be','that','have','with')
       |             THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
       |  FROM words GROUP BY doc_id),
       |l AS (
       |  SELECT doc_id, text,
       |    length(regexp_replace(text, '[^一-鿿]', '', 'g')) * 1.0 /
       |      greatest(length(text), 1) AS cjk,
       |    ${hits("en")} AS s_en, ${hits("de")} AS s_de,
       |    ${hits("fr")} AS s_fr, ${hits("es")} AS s_es,
       |    greatest(${hits("en")}, ${hits("de")}, ${hits("fr")}, ${hits("es")}) AS best
       |  FROM documents),
       |j AS (
       |  SELECT l.doc_id, l.text,
       |    (CASE WHEN l.cjk >= 0.3 THEN 'zh'
       |          WHEN l.s_en = l.best AND l.best > 0 THEN 'en'
       |          WHEN l.s_de = l.best AND l.best > 0 THEN 'de'
       |          WHEN l.s_fr = l.best AND l.best > 0 THEN 'fr'
       |          WHEN l.s_es = l.best AND l.best > 0 THEN 'es'
       |          ELSE 'und' END = 'en') AS en,
       |    (g.n_words BETWEEN 50 AND 100000
       |      AND g.sum_word_len >= 3 * g.n_words
       |      AND g.sum_word_len <= 10 * g.n_words
       |      AND g.n_alpha * 100 >= 80 * g.n_words
       |      AND g.n_stop >= 2) AS gopher
       |  FROM l JOIN g USING (doc_id)),
       |r AS (
       |  SELECT doc_id, en, gopher,
       |    SUM(CASE WHEN en AND gopher THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY md5(text) ORDER BY doc_id
       |            ROWS UNBOUNDED PRECEDING) AS surv_rank
       |  FROM j)
       |SELECT doc_id,
       |  CASE WHEN NOT en THEN 'lang_filter'
       |       WHEN NOT gopher THEN 'gopher_quality'
       |       WHEN surv_rank > 1 THEN 'exact_dup'
       |       ELSE 'kept' END AS reason
       |FROM r ORDER BY doc_id""".stripMargin

  /** Snapshot + rollback on the persisted BM25 index — the recovery
    * path of the lifecycle (q213 pins delete, q220 upsert, q219 the
    * stats): save the full corpus, [[graft.operators.IndexSnapshots
    * .snapshot]] it, POISON the generation (delete every doc_id ≡ 0
    * (mod 3), then upsert doctored text into every doc_id ≡ 0 (mod 5)),
    * and [[graft.operators.IndexSnapshots.restore]] the snapshot before
    * probing. Shares q119's plain-corpus oracle — the whole point: after
    * two corpus-reshaping mutations, rollback must reproduce the
    * original index BIT-EXACTLY (scores, ranks, df/N stats), not merely
    * resemble it; any residue of the deleted or doctored rows (or a
    * stale cached plan serving the pre-restore generation) shifts the
    * hash. Probe-side plan is q121's (bucket-file pruning). */
  private def q221IndexRollback(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val path = graft.core.Scratch.dir(dir, "bm25rbk")
    graft.operators.TextIndex.save(docs, "doc_id", "text", path)
    // bench re-runs each query in one process over one Scratch dir:
    // snapshots are immutable, so a prior pass's tag must drop first
    if (graft.operators.IndexSnapshots.list(spark, path)
        .filter($"tag" === "clean").head(1).nonEmpty)
      graft.operators.IndexSnapshots.drop(spark, path, "clean")
    graft.operators.IndexSnapshots.snapshot(spark, path, "clean")
    graft.operators.TextIndex.delete(spark, path,
      docs.filter($"doc_id" % 3 === 0).select($"doc_id"))
    graft.operators.TextIndex.upsert(
      docs.filter($"doc_id" % 5 === 0)
        .select($"doc_id", concat($"text", lit(" poisoned")).as("text")),
      "doc_id", "text", path)
    graft.operators.IndexSnapshots.restore(spark, path, "clean")
    graft.operators.TextIndex.probe(spark, path,
      Seq("spark", "merge", "join"), k = 20)
  }

  /** Snapshot retention (prune) + time travel over the pruned store —
    * the storage valve for [[graft.operators.IndexSnapshots]]'s
    * full-copy snapshots (a nightly cadence on a 100 TB index grows
    * without bound otherwise): save the corpus, take three generation
    * snapshots with a targeted delete between each, prune to the TWO
    * most recent, then probe every SURVIVING generation read-only via
    * `at()`. The row count itself pins the retention choice (a
    * surviving g1 would emit 15 rows, not 10), the per-tag scores pin
    * that each snapshot froze its OWN generation's df/N stats, and the
    * oracle replays both surviving corpora relationally. Prune is one
    * driver-side `_snapshots` listing + renames — no row data moves. */
  private def q226SnapshotPrune(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val path = graft.core.Scratch.dir(dir, "bm25prune")
    graft.operators.TextIndex.save(docs, "doc_id", "text", path)
    // bench reruns each query in one process over one Scratch dir:
    // retire the prior pass's tags (and exercise prune-to-empty)
    graft.operators.IndexSnapshots.prune(spark, path, keepLast = 0)
    graft.operators.IndexSnapshots.snapshot(spark, path, "g1")
    graft.operators.TextIndex.delete(spark, path,
      docs.filter($"doc_id" % 3 === 0).select($"doc_id"))
    graft.operators.IndexSnapshots.snapshot(spark, path, "g2")
    graft.operators.TextIndex.delete(spark, path,
      docs.filter($"doc_id" % 3 =!= 0 && $"doc_id" % 5 === 0)
        .select($"doc_id"))
    graft.operators.IndexSnapshots.snapshot(spark, path, "g3")
    val dropped = graft.operators.IndexSnapshots.prune(spark, path,
      keepLast = 2)
    require(dropped == Seq("g1"),
      s"retention must drop exactly the oldest tag, got $dropped")
    val tags = graft.operators.IndexSnapshots.list(spark, path)
      .select($"tag").as[String].collect().toSeq.sorted
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"tag").orderBy($"score".desc, $"doc_id")
    tags.map { t =>
      graft.operators.TextIndex.probe(spark,
          graft.operators.IndexSnapshots.at(spark, path, t),
          Seq("spark", "merge", "join"), k = 5)
        .select(lit(t).as("tag"), $"doc_id", $"score")
    }.reduce(_ union _)
      .withColumn("rank", row_number().over(w).cast("long"))
      .orderBy($"tag", $"rank")
  }

  /** Both surviving generations replayed relationally: g2 = the corpus
    * without doc_id ≡ 0 (mod 3), g3 = g2 additionally without ≡ 0
    * (mod 5); each BM25-scored with its own corpus stats, top-5. */
  private val q226Sql =
    """WITH gens(tag) AS (VALUES ('g2'), ('g3')),
      |d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |m AS (
      |  SELECT g.tag, d.doc_id, d.ws
      |  FROM d CROSS JOIN gens g
      |  WHERE d.doc_id % 3 <> 0 AND (g.tag = 'g2' OR d.doc_id % 5 <> 0)),
      |base AS (
      |  SELECT tag, doc_id, CAST(len(ws) AS BIGINT) AS dl,
      |    CAST(len(list_filter(ws, x -> x = 'spark')) AS BIGINT) AS tf0,
      |    CAST(len(list_filter(ws, x -> x = 'merge')) AS BIGINT) AS tf1,
      |    CAST(len(list_filter(ws, x -> x = 'join')) AS BIGINT) AS tf2
      |  FROM m),
      |stats AS (
      |  SELECT tag, COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
      |    SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
      |    SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
      |    SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
      |  FROM base GROUP BY tag),
      |scored AS (
      |  SELECT b.tag, b.doc_id,
      |    round(
      |      ln((s.n - s.df0 + 0.5) / (s.df0 + 0.5) + 1) * (b.tf0 * 2.2) / (b.tf0 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl))
      |    + ln((s.n - s.df1 + 0.5) / (s.df1 + 0.5) + 1) * (b.tf1 * 2.2) / (b.tf1 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl))
      |    + ln((s.n - s.df2 + 0.5) / (s.df2 + 0.5) + 1) * (b.tf2 * 2.2) / (b.tf2 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl)), 6) AS score
      |  FROM base b JOIN stats s USING (tag)),
      |ranked AS (
      |  SELECT tag, doc_id, score,
      |    row_number() OVER (PARTITION BY tag ORDER BY score DESC, doc_id) AS rank
      |  FROM scored)
      |SELECT tag, doc_id, score, CAST(rank AS BIGINT) AS rank
      |FROM ranked WHERE rank <= 5
      |ORDER BY tag, rank""".stripMargin

  /** Incremental (content-addressed) snapshots through a full lifecycle
    * — the O(changed bytes) answer to q226's storage-valve caveat (full
    * copies on a nightly cadence): save the corpus, take TWO incremental
    * snapshots of the SAME generation (rolling-latest cadence on a quiet
    * index — engine-side contracts assert they share every object and
    * the tag dirs hold only `.ref` pointers), mutate (delete a third),
    * snapshot the new generation, POISON the index (doctored upserts),
    * restore through the ref store, and prune to keepLast=1 (the
    * refcounting GC reclaims the dropped generation's objects). The
    * probe runs TWICE — the restored live index and read-only time
    * travel through `at()`'s materialized view — and the hash pins both
    * legs to the identical post-delete relation: a restore that resolved
    * a ref to the wrong object, a GC that collected a live object, or a
    * stale/partial view shifts scores or drops rows. */
  private def q231IncrementalSnapshot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val path = graft.core.Scratch.dir(dir, "bm25incr")
    graft.operators.TextIndex.save(docs, "doc_id", "text", path)
    // bench reruns in one process over one Scratch dir: drain prior tags
    // (prune-to-empty also garbage-collects the object store)
    graft.operators.IndexSnapshots.prune(spark, path, keepLast = 0)
    require(graft.operators.IndexSnapshots.gcObjects(spark, path).isEmpty,
      "prune-to-empty must already have collected every object")
    graft.operators.IndexSnapshots.snapshotIncremental(spark, path, "s1")
    graft.operators.IndexSnapshots.snapshotIncremental(spark, path, "s1b")
    graft.operators.TextIndex.delete(spark, path,
      docs.filter($"doc_id" % 3 === 0).select($"doc_id"))
    graft.operators.IndexSnapshots.snapshotIncremental(spark, path, "s2")
    graft.operators.TextIndex.upsert(
      docs.filter($"doc_id" % 5 === 0)
        .select($"doc_id", concat($"text", lit(" poisoned")).as("text")),
      "doc_id", "text", path)
    graft.operators.IndexSnapshots.restore(spark, path, "s2")
    val dropped = graft.operators.IndexSnapshots.prune(spark, path,
      keepLast = 1)
    require(dropped.sorted == Seq("s1", "s1b"),
      s"retention must drop the superseded generation's tags, got $dropped")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"tag").orderBy($"score".desc, $"doc_id")
    Seq("live" -> path,
        "view" -> graft.operators.IndexSnapshots.at(spark, path, "s2"))
      .map { case (t, p) =>
        graft.operators.TextIndex.probe(spark, p,
            Seq("spark", "merge", "join"), k = 5)
          .select(lit(t).as("tag"), $"doc_id", $"score")
      }.reduce(_ union _)
      .withColumn("rank", row_number().over(w).cast("long"))
      .orderBy($"tag", $"rank")
  }

  /** Both probe legs (restored live index, materialized time-travel
    * view) replay as the SAME relation: the corpus without doc_id ≡ 0
    * (mod 3), BM25-scored with its own stats, top-5. */
  private val q231Sql =
    """WITH gens(tag) AS (VALUES ('live'), ('view')),
      |d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |m AS (
      |  SELECT g.tag, d.doc_id, d.ws
      |  FROM d CROSS JOIN gens g
      |  WHERE d.doc_id % 3 <> 0),
      |base AS (
      |  SELECT tag, doc_id, CAST(len(ws) AS BIGINT) AS dl,
      |    CAST(len(list_filter(ws, x -> x = 'spark')) AS BIGINT) AS tf0,
      |    CAST(len(list_filter(ws, x -> x = 'merge')) AS BIGINT) AS tf1,
      |    CAST(len(list_filter(ws, x -> x = 'join')) AS BIGINT) AS tf2
      |  FROM m),
      |stats AS (
      |  SELECT tag, COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
      |    SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
      |    SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
      |    SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
      |  FROM base GROUP BY tag),
      |scored AS (
      |  SELECT b.tag, b.doc_id,
      |    round(
      |      ln((s.n - s.df0 + 0.5) / (s.df0 + 0.5) + 1) * (b.tf0 * 2.2) / (b.tf0 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl))
      |    + ln((s.n - s.df1 + 0.5) / (s.df1 + 0.5) + 1) * (b.tf1 * 2.2) / (b.tf1 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl))
      |    + ln((s.n - s.df2 + 0.5) / (s.df2 + 0.5) + 1) * (b.tf2 * 2.2) / (b.tf2 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl)), 6) AS score
      |  FROM base b JOIN stats s USING (tag)),
      |ranked AS (
      |  SELECT tag, doc_id, score,
      |    row_number() OVER (PARTITION BY tag ORDER BY score DESC, doc_id) AS rank
      |  FROM scored)
      |SELECT tag, doc_id, score, CAST(rank AS BIGINT) AS rank
      |FROM ranked WHERE rank <= 5
      |ORDER BY tag, rank""".stripMargin

  /** Rank drift between two index GENERATIONS — the "what did
    * yesterday's curation pass do to rankings" serving diagnostic, and
    * the oracled consumer of [[graft.operators.IndexSnapshots.at]]
    * (read-only time travel): snapshot the clean index as `then`,
    * delete a third of the corpus, then probe BOTH generations (the
    * live path and the snapshot path through the SAME probe code) and
    * full-outer-join their top-20s into (rank_then, rank_now, drift)
    * per doc, 21 = "outside the top-20". Rank arithmetic is exact
    * integers over two contract-bounded 20-row frames; corpus-scale
    * work stays inside the two probes. The hash pins that the snapshot
    * serves the PRE-delete ranking while the live index serves the
    * post-delete one — a snapshot that leaked the mutation (or a probe
    * that cached across generations) shifts every drift. */
  private def q222RankDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val path = graft.core.Scratch.dir(dir, "bm25drift")
    graft.operators.TextIndex.save(docs, "doc_id", "text", path)
    if (graft.operators.IndexSnapshots.list(spark, path)
        .filter($"tag" === "then").head(1).nonEmpty)
      graft.operators.IndexSnapshots.drop(spark, path, "then")
    graft.operators.IndexSnapshots.snapshot(spark, path, "then")
    graft.operators.TextIndex.delete(spark, path,
      docs.filter($"doc_id" % 3 === 0).select($"doc_id"))
    val terms = Seq("spark", "merge", "join")
    val w = graft.operators.BoundedWindow
      .ordered($"doc_id", $"score".desc, $"doc_id")
    def ranked(p: String, as: String) =
      graft.operators.TextIndex.probe(spark, p, terms, k = 20)
        .withColumn(as, row_number().over(w).cast("long"))
        .select($"doc_id", col(as))
    val thenK = ranked(
      graft.operators.IndexSnapshots.at(spark, path, "then"), "rank_then")
    val nowK = ranked(path, "rank_now")
    thenK.join(nowK, Seq("doc_id"), "full_outer")
      .select($"doc_id",
        coalesce($"rank_then", lit(21L)).as("rank_then"),
        coalesce($"rank_now", lit(21L)).as("rank_now"),
        (coalesce($"rank_now", lit(21L)) -
          coalesce($"rank_then", lit(21L))).as("drift"))
      .orderBy($"doc_id")
  }

  /** Both generations replayed relationally: the full corpus and the
    * corpus without doc_id ≡ 0 (mod 3), each BM25-scored and top-20
    * ranked, diffed with the same 21-sentinel. */
  private val q222Sql =
    """WITH mk AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws,
      |    doc_id % 3 <> 0 AS now_member
      |  FROM documents),
      |base AS (
      |  SELECT doc_id, now_member, CAST(len(ws) AS BIGINT) AS dl,
      |    CAST(len(list_filter(ws, x -> x = 'spark')) AS BIGINT) AS tf0,
      |    CAST(len(list_filter(ws, x -> x = 'merge')) AS BIGINT) AS tf1,
      |    CAST(len(list_filter(ws, x -> x = 'join')) AS BIGINT) AS tf2
      |  FROM mk),
      |statsT AS (
      |  SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
      |    SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
      |    SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
      |    SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
      |  FROM base),
      |statsN AS (
      |  SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
      |    SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
      |    SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
      |    SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
      |  FROM base WHERE now_member),
      |thenk AS (
      |  SELECT doc_id, rank_then FROM (
      |    SELECT b.doc_id, row_number() OVER (ORDER BY
      |      round(
      |        ln((s.n - s.df0 + 0.5) / (s.df0 + 0.5) + 1) * (b.tf0 * 2.2) / (b.tf0 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl))
      |      + ln((s.n - s.df1 + 0.5) / (s.df1 + 0.5) + 1) * (b.tf1 * 2.2) / (b.tf1 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl))
      |      + ln((s.n - s.df2 + 0.5) / (s.df2 + 0.5) + 1) * (b.tf2 * 2.2) / (b.tf2 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl)), 6) DESC,
      |      b.doc_id) AS rank_then
      |    FROM base b CROSS JOIN statsT s)
      |  WHERE rank_then <= 20),
      |nowk AS (
      |  SELECT doc_id, rank_now FROM (
      |    SELECT b.doc_id, row_number() OVER (ORDER BY
      |      round(
      |        ln((s.n - s.df0 + 0.5) / (s.df0 + 0.5) + 1) * (b.tf0 * 2.2) / (b.tf0 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl))
      |      + ln((s.n - s.df1 + 0.5) / (s.df1 + 0.5) + 1) * (b.tf1 * 2.2) / (b.tf1 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl))
      |      + ln((s.n - s.df2 + 0.5) / (s.df2 + 0.5) + 1) * (b.tf2 * 2.2) / (b.tf2 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl)), 6) DESC,
      |      b.doc_id) AS rank_now
      |    FROM base b CROSS JOIN statsN s WHERE b.now_member)
      |  WHERE rank_now <= 20)
      |SELECT COALESCE(t.doc_id, n.doc_id) AS doc_id,
      |  CAST(COALESCE(t.rank_then, 21) AS BIGINT) AS rank_then,
      |  CAST(COALESCE(n.rank_now, 21) AS BIGINT) AS rank_now,
      |  CAST(COALESCE(n.rank_now, 21) - COALESCE(t.rank_then, 21) AS BIGINT) AS drift
      |FROM thenk t FULL OUTER JOIN nowk n ON t.doc_id = n.doc_id
      |ORDER BY doc_id""".stripMargin

  /** Upsert (replace-or-insert) on the persisted BM25 index — the
    * document-EDITED path of the lifecycle (q213 pins delete, q219 the
    * stats): save the full corpus, then [[graft.operators.TextIndex
    * .upsert]] a batch where every doc_id ≡ 0 (mod 10) carries edited
    * text (an appended marker term) and every doc_id ≡ 0 (mod 25)
    * re-enters as a NEW document under an offset id; probe a query
    * containing the marker. The hash pins replace-not-duplicate
    * semantics (an upserted id serves ONLY its new text — a stale
    * duplicate would double its tf and shift every score), insert
    * semantics for the offset ids, and corpus stats corrected through
    * both halves — against a DuckDB replay that scores the edited
    * corpus directly. */
  private def q220IndexUpsert(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val path = graft.core.Scratch.dir(dir, "bm25ups")
    graft.operators.TextIndex.save(docs, "doc_id", "text", path)
    val edited = docs.filter($"doc_id" % 10 === 0)
      .select($"doc_id",
        concat($"text", lit(" graftedit graftedit")).as("text"))
    val fresh = docs.filter($"doc_id" % 25 === 0)
      .select(($"doc_id" + 100000L).as("doc_id"),
        concat(lit("graftedit fresh doc "), $"doc_id".cast("string"))
          .as("text"))
    graft.operators.TextIndex.upsert(
      edited.unionByName(fresh), "doc_id", "text", path)
    // compact is content-preserving, so probing THROUGH it puts the
    // small-file rewrite under the same hash as the upsert semantics
    graft.operators.TextIndex.compact(spark, path)
    graft.operators.TextIndex.probe(spark, path,
      Seq("graftedit", "spark", "join"), k = 20)
  }

  /** q213's BM25 replay over the EDITED corpus: in-place edits for
    * doc_id ≡ 0 (mod 10), fresh offset-id rows for doc_id ≡ 0
    * (mod 25) — exactly the state upsert must converge the index to. */
  private val q220Sql =
    """WITH d0 AS (SELECT doc_id, text FROM documents),
      |corpus AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 10 = 0 THEN text || ' graftedit graftedit'
      |         ELSE text END AS text
      |  FROM d0
      |  UNION ALL
      |  SELECT doc_id + 100000,
      |    'graftedit fresh doc ' || CAST(doc_id AS VARCHAR)
      |  FROM d0 WHERE doc_id % 25 = 0),
      |d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
      |base AS (
      |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
      |    CAST(len(list_filter(ws, x -> x = 'graftedit')) AS BIGINT) AS tf0,
      |    CAST(len(list_filter(ws, x -> x = 'spark')) AS BIGINT) AS tf1,
      |    CAST(len(list_filter(ws, x -> x = 'join')) AS BIGINT) AS tf2
      |  FROM d),
      |stats AS (
      |  SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
      |    SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
      |    SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
      |    SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
      |  FROM base)
      |SELECT b.doc_id, b.tf0 AS tf_graftedit, b.tf1 AS tf_spark,
      |  b.tf2 AS tf_join,
      |  round(
      |    ln((s.n - s.df0 + 0.5) / (s.df0 + 0.5) + 1) * (b.tf0 * 2.2) / (b.tf0 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl))
      |  + ln((s.n - s.df1 + 0.5) / (s.df1 + 0.5) + 1) * (b.tf1 * 2.2) / (b.tf1 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl))
      |  + ln((s.n - s.df2 + 0.5) / (s.df2 + 0.5) + 1) * (b.tf2 * 2.2) / (b.tf2 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl)), 6) AS score
      |FROM base b CROSS JOIN stats s
      |ORDER BY score DESC, doc_id
      |LIMIT 20""".stripMargin

  /** Trained quality scorer (north star): fuse the Gopher-rule signals
    * into a LEARNED document score via
    * [[graft.operators.QuantizedLR]] — hard-sigmoid logistic regression,
    * 3 full-batch GD rounds with fixed-point gradient accumulation, so
    * the weights are a deterministic function of the data and the WHOLE
    * chain (integer features → 3 updates → scores → tercile buckets)
    * replays relationally under one hash. Features are integer-exact
    * ratios from [[graft.operators.QualityRules.annotate]]; the label is
    * the gopher gate itself (weak supervision: distill the hard rule
    * into a smooth, rankable score). Terciles are cut-based from
    * [[graft.operators.OrderStats.exactQuantiles]] (the q209
    * discipline — never a corpus-global NTILE window). */
  /** Shared engine chain for q217/q239: Gopher-rule features → 3-round
    * quantized GD fit → rounded hard-sigmoid scores per document. */
  private def quantizedLrScored(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fcols = Seq("x1", "x2", "x3", "x4")
    val feats = graft.operators.QualityRules.annotate(
        Tables.documents(spark, dir), "text")
      .select($"doc_id",
        ($"n_words".cast("double") / lit(100.0)).as("x1"),
        ($"sum_word_len".cast("double") / $"n_words".cast("double")).as("x2"),
        ($"n_alpha_words".cast("double") / $"n_words".cast("double")).as("x3"),
        ($"n_stopwords".cast("double") / lit(10.0)).as("x4"),
        when($"gopher_pass", 1.0).otherwise(0.0).as("y"))
    val w = graft.operators.QuantizedLR.fit(feats, fcols, "y",
      lr = 0.1, rounds = 3)
    feats.withColumn("score",
      round(graft.operators.QuantizedLR.scoreCol(fcols, w), 6))
  }

  private def q217TrainedQuality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = quantizedLrScored(spark, dir)
      .withColumn("__all", lit(1))
    val cuts = graft.operators.OrderStats.exactQuantiles(
        scored, "score", "__all", ps = Seq(1.0 / 3.0, 2.0 / 3.0))
      .agg(collect_list($"q").as("__cuts"))
    scored.crossJoin(broadcast(cuts))
      .withColumn("bucket", expr(
        "aggregate(__cuts, 0, (acc, c) -> acc + if(c <= score, 1, 0))")
        .cast("long"))
      .select($"doc_id", $"y".cast("long").as("label"), $"score", $"bucket")
      .orderBy($"doc_id")
  }

  /** Relational replay of the full quantized-GD chain: feature CTE →
    * three weight CTEs (each one aggregate of floor-quantized gradient
    * contributions over the previous weights) → scores → cut-based
    * tercile buckets. Every arithmetic step mirrors the engine's
    * operation order exactly (left-assoc dot product, (err·x)·10⁶
    * multiplication order, CAST-to-DOUBLE before the /n division). */
  /** Shared relational replay of the scoring chain (feature CTE → three
    * quantized-GD weight CTEs → rounded hard-sigmoid scores); q217 appends
    * the tercile cut, q239 the fixed-width calibration bins. */
  private val quantizedLrScoredSql =
    """WITH words AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |s AS (
      |  SELECT doc_id,
      |    CAST(COUNT(*) AS BIGINT) AS n_words,
      |    CAST(SUM(len(w)) AS BIGINT) AS sum_word_len,
      |    CAST(SUM(CASE WHEN regexp_matches(w, '[A-Za-z]') THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha_words,
      |    CAST(SUM(CASE WHEN w IN ('the','a','and','of','to','in','be','that','have','with')
      |             THEN 1 ELSE 0 END) AS BIGINT) AS n_stopwords
      |  FROM words GROUP BY doc_id),
      |f AS (
      |  SELECT doc_id,
      |    CAST(n_words AS DOUBLE) / 100.0 AS x1,
      |    CAST(sum_word_len AS DOUBLE) / CAST(n_words AS DOUBLE) AS x2,
      |    CAST(n_alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE) AS x3,
      |    CAST(n_stopwords AS DOUBLE) / 10.0 AS x4,
      |    CASE WHEN n_words BETWEEN 50 AND 100000
      |      AND sum_word_len >= 3 * n_words AND sum_word_len <= 10 * n_words
      |      AND n_alpha_words * 100 >= 80 * n_words
      |      AND n_stopwords >= 2 THEN 1.0 ELSE 0.0 END AS y
      |  FROM s),
      |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM f),
      |g1 AS (
      |  SELECT
      |    SUM(CAST(floor(e * 1000000.0) AS BIGINT)) AS s0,
      |    SUM(CAST(floor((e * x1) * 1000000.0) AS BIGINT)) AS s1,
      |    SUM(CAST(floor((e * x2) * 1000000.0) AS BIGINT)) AS s2,
      |    SUM(CAST(floor((e * x3) * 1000000.0) AS BIGINT)) AS s3,
      |    SUM(CAST(floor((e * x4) * 1000000.0) AS BIGINT)) AS s4
      |  FROM (SELECT x1, x2, x3, x4,
      |          greatest(0.0, least(1.0, 0.25 * (0.0 + 0.0 * x1 + 0.0 * x2 + 0.0 * x3 + 0.0 * x4) + 0.5)) - y AS e
      |        FROM f)),
      |w1 AS (
      |  SELECT 0.0 - 0.1 * ((CAST(s0 AS DOUBLE) / n) / 1000000.0) AS w0,
      |         0.0 - 0.1 * ((CAST(s1 AS DOUBLE) / n) / 1000000.0) AS w1,
      |         0.0 - 0.1 * ((CAST(s2 AS DOUBLE) / n) / 1000000.0) AS w2,
      |         0.0 - 0.1 * ((CAST(s3 AS DOUBLE) / n) / 1000000.0) AS w3,
      |         0.0 - 0.1 * ((CAST(s4 AS DOUBLE) / n) / 1000000.0) AS w4
      |  FROM g1 CROSS JOIN nn),
      |g2 AS (
      |  SELECT
      |    SUM(CAST(floor(e * 1000000.0) AS BIGINT)) AS s0,
      |    SUM(CAST(floor((e * x1) * 1000000.0) AS BIGINT)) AS s1,
      |    SUM(CAST(floor((e * x2) * 1000000.0) AS BIGINT)) AS s2,
      |    SUM(CAST(floor((e * x3) * 1000000.0) AS BIGINT)) AS s3,
      |    SUM(CAST(floor((e * x4) * 1000000.0) AS BIGINT)) AS s4
      |  FROM (SELECT f.x1, f.x2, f.x3, f.x4,
      |          greatest(0.0, least(1.0, 0.25 * (w.w0 + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3 + w.w4 * f.x4) + 0.5)) - f.y AS e
      |        FROM f CROSS JOIN w1 w)),
      |w2 AS (
      |  SELECT w.w0 - 0.1 * ((CAST(g.s0 AS DOUBLE) / n) / 1000000.0) AS w0,
      |         w.w1 - 0.1 * ((CAST(g.s1 AS DOUBLE) / n) / 1000000.0) AS w1,
      |         w.w2 - 0.1 * ((CAST(g.s2 AS DOUBLE) / n) / 1000000.0) AS w2,
      |         w.w3 - 0.1 * ((CAST(g.s3 AS DOUBLE) / n) / 1000000.0) AS w3,
      |         w.w4 - 0.1 * ((CAST(g.s4 AS DOUBLE) / n) / 1000000.0) AS w4
      |  FROM g2 g CROSS JOIN w1 w CROSS JOIN nn),
      |g3 AS (
      |  SELECT
      |    SUM(CAST(floor(e * 1000000.0) AS BIGINT)) AS s0,
      |    SUM(CAST(floor((e * x1) * 1000000.0) AS BIGINT)) AS s1,
      |    SUM(CAST(floor((e * x2) * 1000000.0) AS BIGINT)) AS s2,
      |    SUM(CAST(floor((e * x3) * 1000000.0) AS BIGINT)) AS s3,
      |    SUM(CAST(floor((e * x4) * 1000000.0) AS BIGINT)) AS s4
      |  FROM (SELECT f.x1, f.x2, f.x3, f.x4,
      |          greatest(0.0, least(1.0, 0.25 * (w.w0 + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3 + w.w4 * f.x4) + 0.5)) - f.y AS e
      |        FROM f CROSS JOIN w2 w)),
      |w3 AS (
      |  SELECT w.w0 - 0.1 * ((CAST(g.s0 AS DOUBLE) / n) / 1000000.0) AS w0,
      |         w.w1 - 0.1 * ((CAST(g.s1 AS DOUBLE) / n) / 1000000.0) AS w1,
      |         w.w2 - 0.1 * ((CAST(g.s2 AS DOUBLE) / n) / 1000000.0) AS w2,
      |         w.w3 - 0.1 * ((CAST(g.s3 AS DOUBLE) / n) / 1000000.0) AS w3,
      |         w.w4 - 0.1 * ((CAST(g.s4 AS DOUBLE) / n) / 1000000.0) AS w4
      |  FROM g3 g CROSS JOIN w2 w CROSS JOIN nn),
      |scored AS (
      |  SELECT f.doc_id, CAST(f.y AS BIGINT) AS label,
      |    round(greatest(0.0, least(1.0, 0.25 * (w.w0 + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3 + w.w4 * f.x4) + 0.5)), 6) AS score
      |  FROM f CROSS JOIN w3 w)""".stripMargin

  private val q217Sql = quantizedLrScoredSql +
    """,
      |r AS (
      |  SELECT score, row_number() OVER (ORDER BY score, doc_id) AS rn,
      |    COUNT(*) OVER () AS cnt
      |  FROM scored),
      |cuts AS (
      |  SELECT MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL((CAST(1.0 AS DOUBLE)/3.0) * cnt) AS BIGINT)) THEN score END) AS c1,
      |    MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL((CAST(2.0 AS DOUBLE)/3.0) * cnt) AS BIGINT)) THEN score END) AS c2
      |  FROM r)
      |SELECT s.doc_id, s.label, s.score,
      |  CAST((CASE WHEN c.c1 <= s.score THEN 1 ELSE 0 END)
      |     + (CASE WHEN c.c2 <= s.score THEN 1 ELSE 0 END) AS BIGINT) AS bucket
      |FROM scored s CROSS JOIN cuts c
      |ORDER BY s.doc_id""".stripMargin

  /** Scorer calibration audit (north star): the reliability table for the
    * q217 trained quality scorer — a model whose scores drive 100 TB keep/
    * drop decisions needs its "0.8 means ~80% positive" claim audited, not
    * assumed. Fixed-width score bins (bin = min(⌊1000·score⌋, 999) — millesimal
    * resolution, because a barely-moved quantized-GD scorer concentrates
    * its scores in a few hundredths and coarser bins would collapse the
    * whole corpus into one row — over the
    * hard-sigmoid's [0,1] range), per bin: exact doc/positive counts and
    * the score mass in integer micro-units, plus a per-bin monotonicity
    * bit (positive RATE non-decreasing vs the previous bin, compared
    * cross-multiplied — p_prev·n_cur ≤ p_cur·n_prev — so no float ratio
    * ever decides it). The whole audit replays relationally: the oracle
    * re-derives training, scoring, binning, and the monotonicity join.
    * Scale shape: one narrow aggregate over the scored corpus into at
    * most 1000 rows (one per occupied millesimal bin — ~tens in
    * practice), localCheckpointed so the quantized-GD train/score chain
    * runs ONCE, then a bounded broadcast self-join — audit cost is one
    * pass over the corpus. */
  private def q239Calibration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byBin = quantizedLrScored(spark, dir)
      .select(
        least(floor($"score" * 1000.0), lit(999.0)).cast("long").as("bin"),
        $"y".cast("long").as("__label"),
        round($"score" * 1000000.0).cast("long").as("__su"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_docs"), sum($"__label").as("n_pos"),
        sum($"__su").as("sum_score_micros"))
      // ≤1000 rows; both sides of the self-join below would otherwise
      // re-run the whole iterative training/scoring lineage
      .localCheckpoint()
    byBin.as("c")
      .join(broadcast(byBin.as("p")), col("c.bin") === col("p.bin") + 1, "left")
      .select(col("c.bin").as("bin"), col("c.n_docs").as("n_docs"),
        col("c.n_pos").as("n_pos"),
        col("c.sum_score_micros").as("sum_score_micros"),
        when(col("p.bin").isNull ||
            col("p.n_pos") * col("c.n_docs") <= col("c.n_pos") * col("p.n_docs"),
          1L).otherwise(0L).as("mono_ok"))
      .orderBy($"bin")
  }

  private val q239Sql = quantizedLrScoredSql +
    """,
      |bybin AS (
      |  SELECT CAST(least(floor(score * 1000.0), 999.0) AS BIGINT) AS bin,
      |    COUNT(*) AS n_docs, SUM(label) AS n_pos,
      |    SUM(CAST(round(score * 1000000.0) AS BIGINT)) AS sum_score_micros
      |  FROM scored GROUP BY 1)
      |SELECT c.bin, CAST(c.n_docs AS BIGINT) AS n_docs,
      |  CAST(c.n_pos AS BIGINT) AS n_pos,
      |  CAST(c.sum_score_micros AS BIGINT) AS sum_score_micros,
      |  CAST(CASE WHEN p.bin IS NULL
      |            OR p.n_pos * c.n_docs <= c.n_pos * p.n_docs
      |       THEN 1 ELSE 0 END AS BIGINT) AS mono_ok
      |FROM bybin c LEFT JOIN bybin p ON p.bin = c.bin - 1
      |ORDER BY c.bin""".stripMargin

  /** Greedy sequence packing, cross-validated by an INDEPENDENT algorithm:
    * the engine streams first-fit chunks per md5 bucket; the oracle
    * re-derives the identical assignment in DuckDB with a recursive CTE
    * walking each bucket's hash order. Both sides are deterministic because
    * every ordering key is md5 (engine-portable, like q43's split). */
  private def q49Packing(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.Packing.packDocuments(
        Tables.documents(spark, dir), "doc_id", "text",
        maxTokens = 512, bucketHexChars = 1)
      .toDF()
      .select($"chunk_id", $"n_docs".cast("long").as("n_docs"), $"total_tokens",
        concat_ws(",", transform(sort_array($"doc_ids"), _.cast("string"))).as("doc_ids"))
      .orderBy($"chunk_id")
  }

  private val q49Sql =
    """WITH RECURSIVE ordered AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
      |    md5('pack:' || CAST(doc_id AS VARCHAR)) AS h,
      |    substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 1) AS bucket,
      |    row_number() OVER (PARTITION BY substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 1)
      |                       ORDER BY md5('pack:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents),
      |walk AS (
      |  SELECT bucket, rn, doc_id, n, 0 AS ci, n AS toks FROM ordered WHERE rn = 1
      |  UNION ALL
      |  SELECT o.bucket, o.rn, o.doc_id, o.n,
      |    CASE WHEN w.toks + o.n > 512 THEN w.ci + 1 ELSE w.ci END,
      |    CASE WHEN w.toks + o.n > 512 THEN o.n ELSE w.toks + o.n END
      |  FROM walk w JOIN ordered o ON o.bucket = w.bucket AND o.rn = w.rn + 1)
      |SELECT bucket || '-' || CAST(ci AS VARCHAR) AS chunk_id,
      |  COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS total_tokens,
      |  array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
      |FROM walk GROUP BY 1 ORDER BY chunk_id""".stripMargin

  /** Stratified corpus balancing: cap en at 50% and de at 25%, keep other
    * strata whole; summarized per lang. The md5 hex-bucket thresholds are
    * the same portable scheme as q43, so the oracle recomputes the exact
    * assignment (hexThreshold(0.5) = 80000000, 0.25 = 40000000). */
  private def q50Stratified(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.Sampling.stratifiedSample(
        Tables.documents(spark, dir), "doc_id", "lang",
        Map("en" -> 0.5, "de" -> 0.25), defaultFraction = 1.0)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").cast("long").as("chars"))
      .orderBy($"lang")
  }

  private val q50Sql =
    s"""SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars
       |FROM documents
       |WHERE CASE
       |  WHEN lang = 'de' THEN substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'
       |  WHEN lang = 'en' THEN substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'
       |  ELSE TRUE END
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  /** Temperature-balanced source mixture (north star):
    * [[graft.operators.Sampling.temperatureShares]] at α = 0.5 over
    * per-source character mass — the UniMax-style flattening that keeps
    * a dominant crawl from drowning small sources. α = 0.5 rides sqrt
    * (correctly rounded per IEEE — oracle-safe where a general pow is
    * libm-dependent), and the share denominator is a RUNNING total over
    * the sources' lexicographic order read back as max(cumulative), so
    * both engines add the doubles in the same order and every share
    * hash-matches bit for bit. */
  private def q196TempMixture(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.Sampling.temperatureShares(
        Tables.documents(spark, dir), "source", "n_chars",
        alpha = 0.5, budget = 100000L)
      .orderBy($"stratum")
  }

  private val q196Sql =
    """WITH m AS (
      |  SELECT source AS stratum, CAST(SUM(n_chars) AS BIGINT) AS mass
      |  FROM documents GROUP BY source),
      |s AS (
      |  SELECT stratum, mass, sqrt(CAST(mass AS DOUBLE)) AS w,
      |    SUM(sqrt(CAST(mass AS DOUBLE))) OVER
      |      (ORDER BY stratum ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM m),
      |t AS (SELECT stratum, mass, w,
      |        MAX(cum) OVER () AS total FROM s)
      |SELECT stratum, mass, w / total AS share,
      |  CAST(FLOOR(w / total * 100000) AS BIGINT) AS target_rows
      |FROM t
      |ORDER BY stratum""".stripMargin

  /** Jaro–Winkler name matching ([[graft.functions.expressions
    * .TextExpressions.jaro_winkler]]): blocked within-group scoring of
    * customer names — the classic entity-resolution screen beside q60's
    * levenshtein path, here with the OTHER standard metric. The codegen
    * kernel mirrors DuckDB's `jaro_winkler_similarity` conventions
    * exactly (empty→0, floored transposition halves, 0.7 boost
    * threshold, prefix ≤ 4), so the raw doubles hash-match; round(6)
    * guards the comparison anyway. Blocked on custkey % 50 — never an
    * all-pairs join. */
  private def q198JaroNames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.expressions.TextExpressions.jaro_winkler
    val c = Tables.customer(spark, dir)
      .filter($"c_custkey" < 600)
      .select($"c_custkey", $"c_name", ($"c_custkey" % 50).as("blk"))
    c.as("a").join(c.as("b"),
        col("a.blk") === col("b.blk") &&
          col("a.c_custkey") < col("b.c_custkey"))
      .select(col("a.c_custkey").as("key_a"), col("b.c_custkey").as("key_b"),
        round(jaro_winkler(col("a.c_name"), col("b.c_name")), 6).as("sim"))
      .filter($"sim" >= 0.93)
      .orderBy($"key_a", $"key_b")
  }

  private val q198Sql =
    """SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
      |  ROUND(jaro_winkler_similarity(a.c_name, b.c_name), 6) AS sim
      |FROM customer a JOIN customer b
      |  ON a.c_custkey % 50 = b.c_custkey % 50
      | AND a.c_custkey < b.c_custkey
      |WHERE a.c_custkey < 600 AND b.c_custkey < 600
      |  AND ROUND(jaro_winkler_similarity(a.c_name, b.c_name), 6) >= 0.93
      |ORDER BY key_a, key_b""".stripMargin

  /** The JW JOIN operator under the oracle
    * ([[graft.operators.FuzzyJoin.jaroWinklerPairs]]): last-two-chars
    * blocking (DuckDB-expressible, unlike the soundex default) over
    * customer names at minSim 0.93. The oracle replays block join + raw
    * JW + threshold WITHOUT the operator's length-band prune — equality
    * therefore also proves the band lossless on every fixture pair, not
    * just in the derivation. */
  private def q199JwJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir)
      .filter($"c_custkey" < 800)
      .select($"c_custkey".as("id"), $"c_name".as("k"))
    graft.operators.FuzzyJoin.jaroWinklerPairs(c, c, "id", "k",
        minSim = 0.93, block = s => substring(s, -2, 2))
      .filter($"id_a" < $"id_b")
      .select($"id_a", $"id_b", round($"sim", 6).as("sim"))
      .orderBy($"id_a", $"id_b")
  }

  private val q199Sql =
    """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
      |  ROUND(jaro_winkler_similarity(a.c_name, b.c_name), 6) AS sim
      |FROM customer a JOIN customer b
      |  ON substring(a.c_name, length(a.c_name) - 1, 2)
      |   = substring(b.c_name, length(b.c_name) - 1, 2)
      | AND a.c_custkey < b.c_custkey
      |WHERE a.c_custkey < 800 AND b.c_custkey < 800
      |  AND jaro_winkler_similarity(a.c_name, b.c_name) >= 0.93
      |ORDER BY id_a, id_b""".stripMargin

  /** Sorted-neighborhood ER pass ([[graft.operators.FuzzyJoin
    * .sortedNeighborhoodPairs]]): the REVERSED-name ranking — the pass
    * that reaches first-character typos no prefix/phonetic blocking can
    * — window 8, candidates scored with the JW kernel. The oracle
    * re-derives the candidate set from a plain global row_number (the
    * operator uses the two-level cell rank precisely to AVOID that
    * global sort), so rank arithmetic, banding, and scoring all sit
    * under the hash. */
  private def q200SnmJw(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.expressions.TextExpressions.jaro_winkler
    val c = Tables.customer(spark, dir)
      .filter($"c_custkey" < 1200)
      .select($"c_custkey".as("id"), $"c_name".as("k"))
      .withColumn("rk", reverse($"k"))
    graft.operators.FuzzyJoin
      .sortedNeighborhoodPairs(c, "id", "rk", window = 8)
      .join(c.select($"id".as("id_a"), $"k".as("__ka")), "id_a")
      .join(c.select($"id".as("id_b"), $"k".as("__kb")), "id_b")
      .filter(jaro_winkler($"__ka", $"__kb") >= 0.9)
      .select($"id_a", $"id_b", $"rank_dist",
        round(jaro_winkler($"__ka", $"__kb"), 6).as("sim"))
      .orderBy($"id_a", $"id_b")
  }

  private val q200Sql =
    """WITH c AS (
      |  SELECT c_custkey AS id, c_name AS k, reverse(c_name) AS rk
      |  FROM customer WHERE c_custkey < 1200),
      |r AS (SELECT id, k, row_number() OVER (ORDER BY rk, id) AS rn FROM c)
      |SELECT a.id AS id_a, b.id AS id_b,
      |  b.rn - a.rn AS rank_dist,
      |  ROUND(jaro_winkler_similarity(a.k, b.k), 6) AS sim
      |FROM r a JOIN r b ON b.rn > a.rn AND b.rn - a.rn <= 8
      |WHERE jaro_winkler_similarity(a.k, b.k) >= 0.9
      |ORDER BY id_a, id_b""".stripMargin

  /** The full Hernández–Stolfo merge/purge chain (north star): TWO
    * sorted-neighborhood passes (forward name order + reversed-name
    * order — complementary blind spots), candidates scored by the JW
    * kernel at 0.97, surviving edges closed into duplicate clusters by
    * [[graft.operators.Components.connectedComponents]], emitting each
    * duplicate with its cluster representative (min id — the q63
    * convention). The oracle re-derives both passes from plain global
    * row_numbers, rescores, and closes the clusters with a recursive
    * CTE — every stage of the chain under one hash. */
  private def q201MergePurge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.expressions.TextExpressions.jaro_winkler
    val base = Tables.customer(spark, dir)
      .filter($"c_custkey" < 600)
      .select($"c_custkey".as("id"), $"c_name".as("k"))
    // planted dirty re-entries: every 5th customer re-enters under a new
    // id with the '#' transposed into the digits — a transposition
    // scores ~0.989 (JW half-counts them) while the fixture's uniform
    // names keep unrelated neighbors at <= ~0.978, so 0.985 separates
    // the planted duplicates from consecutive-id chaining
    val dirty = base.filter($"id" % 5 === 0)
      .select(($"id" + 100000L).as("id"),
        concat(substring($"k", 1, 8), substring($"k", 10, 1),
          substring($"k", 9, 1), substring($"k", 11, 100)).as("k"))
    val c = base.unionByName(dirty).withColumn("rk", reverse($"k"))
    def pass(keyCol: String) = graft.operators.FuzzyJoin
      .sortedNeighborhoodPairs(c, "id", keyCol, window = 5)
      .select($"id_a", $"id_b")
    val pairs = pass("k").unionByName(pass("rk")).distinct()
      .join(c.select($"id".as("id_a"), $"k".as("__ka")), "id_a")
      .join(c.select($"id".as("id_b"), $"k".as("__kb")), "id_b")
      .filter(jaro_winkler($"__ka", $"__kb") >= 0.985)
      .select($"id_a", $"id_b")
    graft.operators.Components.connectedComponents(pairs, "id_a", "id_b")
      .filter($"node" =!= $"component")
      .select($"node".as("id"), $"component".as("cluster"))
      .orderBy($"id")
  }

  private val q201Sql =
    """WITH RECURSIVE base AS (
      |  SELECT c_custkey AS id, c_name AS k
      |  FROM customer WHERE c_custkey < 600),
      |c AS (
      |  SELECT id, k, reverse(k) AS rk FROM (
      |    SELECT id, k FROM base
      |    UNION ALL
      |    SELECT id + 100000,
      |      concat(substring(k, 1, 8), substring(k, 10, 1),
      |             substring(k, 9, 1), substring(k, 11, 100))
      |    FROM base WHERE id % 5 = 0)),
      |rf AS (SELECT id, k, row_number() OVER (ORDER BY k, id) AS rn FROM c),
      |rr AS (SELECT id, k, row_number() OVER (ORDER BY rk, id) AS rn FROM c),
      |cand AS (
      |  SELECT a.id AS id_a, b.id AS id_b, a.k AS ka, b.k AS kb
      |  FROM rf a JOIN rf b ON b.rn > a.rn AND b.rn - a.rn <= 5
      |  UNION
      |  SELECT a.id, b.id, a.k, b.k
      |  FROM rr a JOIN rr b ON b.rn > a.rn AND b.rn - a.rn <= 5),
      |pairs AS (
      |  SELECT DISTINCT id_a, id_b FROM cand
      |  WHERE jaro_winkler_similarity(ka, kb) >= 0.985),
      |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
      |          UNION SELECT id_b, id_a FROM pairs),
      |reach(n, r) AS (
      |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      |  UNION
      |  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.n),
      |comp AS (SELECT n AS node, MIN(r) AS component FROM reach GROUP BY n)
      |SELECT node AS id, component AS cluster FROM comp
      |WHERE node <> component
      |ORDER BY id""".stripMargin

  /** Epoch-based mixture upsampling (north star): run zh for 2.5 epochs
    * (every doc twice, a deterministic 25%-of-2.5 hash subset a third
    * time), downsample de to 0.25, leave the rest at 1 — the DoReMi-style
    * mixing schedule as ONE zero-shuffle row-local map. The oracle
    * re-derives every copy count from the same md5 hex-bucket contract as
    * q43/q50 (hexThreshold(0.5) = 80000000, 0.25 = 40000000) and
    * replicates via generate_series — an independent replication
    * mechanism. */
  private def q80EpochMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.Sampling.epochMixture(
        Tables.documents(spark, dir), "doc_id", "lang",
        Map("zh" -> 2.5, "de" -> 0.25), defaultEpochs = 1.0)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct($"doc_id").as("n_docs"),
        max($"epoch").as("max_epoch"))
      .orderBy($"lang")
  }

  private val q80Sql =
    """WITH n AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN lang = 'zh' THEN
      |           2 + CASE WHEN substr(md5('epoch:' || CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'
      |               THEN 1 ELSE 0 END
      |         WHEN lang = 'de' THEN
      |           CASE WHEN substr(md5('epoch:' || CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'
      |               THEN 1 ELSE 0 END
      |         ELSE 1 END AS n_copies
      |  FROM documents),
      |rep AS (
      |  SELECT doc_id, lang, unnest(generate_series(1, n_copies)) AS epoch
      |  FROM n WHERE n_copies >= 1)
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  CAST(MAX(epoch) AS BIGINT) AS max_epoch
      |FROM rep GROUP BY lang ORDER BY lang""".stripMargin

  /** Soft dedup weights (north star): every near-dup cluster member kept
    * but downweighted to 1/cluster_size, so each cluster contributes ~one
    * document of training mass — the soft alternative to q53's hard
    * one-keeper verdict, over the same pairs. Composes with epochMixture /
    * tokenBudgetSample as a weight column. Engine: star contraction + one
    * component-keyed count + rejoin; oracle: the shared recursive-closure
    * CTEs + a relational count. */
  private def q87SoftDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val pairs = Dedup.jaccardPairsAuto(docs,
      "doc_id", "text", n = 3, minJac = 0.5, knownCount = Some(docs.count()))
    graft.operators.Components.clusterWeights(pairs, "id_a", "id_b")
      .select($"node".as("doc_id"), $"component", $"cluster_size", $"weight")
      .orderBy($"doc_id")
  }

  private val q87Sql =
    s"""WITH RECURSIVE $closureCtes,
      |sz AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
      |       FROM comp GROUP BY component)
      |SELECT c.node AS doc_id, c.component, sz.cluster_size,
      |  CAST(1.0 AS DOUBLE) / sz.cluster_size AS weight
      |FROM comp c JOIN sz USING (component)
      |ORDER BY doc_id""".stripMargin

  /** Normalization-aware decontamination (north star): q59's cross-corpus
    * anti-join with the digest upgraded to md5 OF NORMALIZED text — the
    * variant an adversarially-reformatted (re-wrapped, re-indented) copy
    * of an eval document requires. Both engines plant whitespace-mangled
    * variants of every fifth current doc into the seen corpus (leading
    * blanks, tripled inner spaces, trailing tab): a raw-md5 anti-join
    * keeps them; the normalized digest must drop them. Pins the
    * normalizeText × dropSeenDocs integration. */
  private def q86NormalizedDecontam(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val current = docs.filter($"source" =!= "src0")
    val variants = current.filter($"doc_id" % 5 === 0)
      .select(concat(lit("  "),
        regexp_replace($"text", " ", "   "), lit("\t")).as("text"))
    val seen = docs.filter($"source" === "src0").select($"text")
      .unionByName(variants)
    graft.operators.Dedup.dropSeenDocs(current, seen, "text",
        digest = c => md5(normalizeText(c)))
      .select($"doc_id", $"source")
      .orderBy($"doc_id")
  }

  private val q86Sql =
    """WITH cur AS (
      |  SELECT doc_id, source, text FROM documents WHERE source <> 'src0'),
      |seen AS (
      |  SELECT text FROM documents WHERE source = 'src0'
      |  UNION ALL
      |  SELECT '  ' || replace(text, ' ', '   ') || chr(9) FROM cur
      |  WHERE doc_id % 5 = 0),
      |norm AS (
      |  SELECT doc_id, source,
      |    md5(trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g'))) AS d
      |  FROM cur),
      |seennorm AS (
      |  SELECT DISTINCT
      |    md5(trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g'))) AS d
      |  FROM seen)
      |SELECT doc_id, source FROM norm
      |WHERE d NOT IN (SELECT d FROM seennorm)
      |ORDER BY doc_id""".stripMargin

  /** CCNet head/middle/tail buckets (north star): score every document by
    * mean bigram log-prob under the English-slice LM (q56's machinery),
    * then split each language into quality TERCILES — head = best third —
    * the canonical CCNet corpus partition. The terciles come from TWO
    * nested topFractionByScore calls (1/3 and 2/3: nesting is guaranteed
    * because both use the same total order), so the whole composition
    * keeps the no-per-stratum-sort plan; the oracle is the naive
    * window-rank formulation over the same relational LM replay. Docs
    * with zero bigrams have no score and are excluded by construction
    * (none exist in this corpus). */
  private def q85CcnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    // cached: the LM-scoring chain fans out 3 ways below (head cut,
    // top-2/3 cut, final labeling join) — same discipline as curate's
    // `exact` frame
    val scored = graft.operators.NgramLm.scoreAgainst(
        docs, docs.filter($"lang" === "en"), "doc_id", "text", addK = 0.5)
      .select($"doc_id", ($"sum_logprob" / $"n_bigrams").as("score"),
        $"sum_logprob")
      .join(docs.select($"doc_id", $"lang"), "doc_id")
      .cache()
    val head = graft.operators.Sampling.topFractionByScore(
      scored, "doc_id", "score", "lang", 1.0 / 3.0)
    val top2 = graft.operators.Sampling.topFractionByScore(
      scored, "doc_id", "score", "lang", 2.0 / 3.0)
    scored
      .join(head.select($"doc_id", lit(1).as("__h")), Seq("doc_id"), "left")
      .join(top2.select($"doc_id", lit(1).as("__hm")), Seq("doc_id"), "left")
      .withColumn("bucket",
        when($"__h" === 1, lit("head"))
          .when($"__hm" === 1, lit("middle"))
          .otherwise(lit("tail")))
      .groupBy($"lang", $"bucket")
      // aggregate sum_logprob, NOT the score quotient: sum_logprob doubles
      // are exact decimal(18,6) round-trips (grid points — re-casting
      // recovers them exactly on any engine), while score = sum/n can land
      // arbitrarily close to a decimal rounding boundary where DuckDB's
      // two-step double->decimal cast legitimately flips the last digit
      // (caught by the sf0.1 gate, the sqlDsum trap's mirror image)
      .agg(count(lit(1)).as("n_docs"),
        Exact.dsum($"sum_logprob", 18, 6).as("lp_sum"))
      .orderBy($"lang", $"bucket")
  }

  private val q85Sql =
    s"""WITH $lmCtes,
      |sc AS (
      |  SELECT p.doc_id, d.lang, p.sum_logprob / p.n_bigrams AS score,
      |    p.sum_logprob
      |  FROM perdoc p JOIN documents d USING (doc_id)),
      |r AS (
      |  SELECT doc_id, lang, score, sum_logprob,
      |    row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY lang) AS n
      |  FROM sc),
      |lab AS (
      |  SELECT lang, sum_logprob,
      |    CASE WHEN rn <= CEIL(n * ${1.0 / 3.0}) THEN 'head'
      |         WHEN rn <= CEIL(n * ${2.0 / 3.0}) THEN 'middle'
      |         ELSE 'tail' END AS bucket
      |  FROM r)
      |SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(CAST(SUM(CAST(sum_logprob AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
      |    AS lp_sum
      |FROM lab GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin

  /** Canonical text normalization (north star): NFC + lowercase +
    * whitespace collapse — what a dedup pipeline hashes INSTEAD of raw
    * bytes so encoding/casing variants collide. Both engines first plant
    * denormalized content deterministically on the real corpus (an NFD
    * combining sequence, the U+212B angstrom singleton, tabs and run-on
    * spaces, uppercase É — the q57 build-then-operate pattern), then
    * normalize: engine = codegen NfcNormalize + lower + regexp_replace;
    * oracle = DuckDB nfc_normalize + lower + regexp_replace(..., 'g') —
    * independent Unicode implementations (ICU vs JDK) under one hash. */
  private def q84Normalize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val built = Tables.documents(spark, dir).select($"doc_id",
      concat($"text", lit(" Café "),
        when($"doc_id" % 2 === 0, lit("  MIXED   CaseÅ"))
          .otherwise(lit("\ttabbedÉ "))).as("text"))
    built.select($"doc_id", $"text", normalizeText($"text").as("norm"))
      .select($"doc_id",
        md5($"norm").as("norm_md5"),
        ($"norm" =!= $"text").as("changed"),
        (length($"text") - length($"norm")).cast("long").as("delta"))
      .orderBy($"doc_id")
  }

  private val q84Sql =
    """WITH built AS (
      |  SELECT doc_id, text || ' Cafe' || chr(769) || ' ' ||
      |    CASE WHEN doc_id % 2 = 0 THEN '  MIXED   Case' || chr(8491)
      |         ELSE chr(9) || 'tabbed' || chr(201) || ' ' END AS text
      |  FROM documents),
      |n AS (
      |  SELECT doc_id, text,
      |    trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g')) AS norm
      |  FROM built)
      |SELECT doc_id, md5(norm) AS norm_md5, norm <> text AS changed,
      |  CAST(length(text) - length(norm) AS BIGINT) AS delta
      |FROM n ORDER BY doc_id""".stripMargin

  /** CCNet-style head selection (north star): keep the best THIRD of each
    * language by quality score — per-stratum top-fraction-by-score via
    * the two-pass histogram plan (Sampling.topFractionByScore: no
    * per-stratum global sort; only the straddling score cell row-sorts).
    * The oracle is the naive window formulation — row_number over
    * (lang, quality DESC, doc_id) against ceil(n/3) — the independent
    * shape the operator's plan deliberately avoids. */
  private def q83HeadSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = Tables.documents(spark, dir)
      .select($"doc_id", $"lang", qualityScore($"text").as("quality"))
    graft.operators.Sampling.topFractionByScore(
        scored, "doc_id", "quality", "lang", fraction = 1.0 / 3.0)
      .orderBy($"doc_id")
  }

  private val q83Sql =
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    CAST(len(list_filter(string_split(text, ' '), w -> w IN $enList)) AS DOUBLE)
       |      / len(string_split(text, ' ')) AS swr,
       |    CASE WHEN length(text) = 0 THEN 0.0
       |         ELSE CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE)
       |           / length(text) END AS pr,
       |    CAST(length(replace(text, ' ', '')) AS DOUBLE)
       |      / len(string_split(text, ' ')) AS mtl
       |  FROM documents),
       |q AS (
       |  SELECT doc_id, lang,
       |    least(swr * 4.0, 1.0) * 0.4 + least(mtl / 8.0, 1.0) * 0.4
       |      + (1.0 - least(pr * 10.0, 1.0)) * 0.2 AS quality
       |  FROM t),
       |r AS (
       |  SELECT doc_id, lang, quality,
       |    row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY lang) AS n
       |  FROM q)
       |SELECT doc_id, lang, quality FROM r
       |WHERE rn <= CAST(ceil(n * ${1.0 / 3.0}) AS BIGINT)
       |ORDER BY doc_id""".stripMargin

  /** Gopher-style repetition signals per document: total / distinct /
    * most-frequent 2-gram multiplicity and the top-gram fraction — the
    * standard duplicate-n-gram quality filters. Engine side is ONE narrow
    * codegen map per row (`gram_hashes` → `multiplicity_stats`, an
    * open-addressing count table over the row's gram hashes — no explode,
    * no (doc, gram) shuffle); the oracle recomputes the counts relationally
    * in DuckDB. */
  private def q51Repetition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.expressions.ShingleHashes.gram_hashes
    import graft.functions.expressions.SketchExpressions.multiplicity_stats
    Tables.documents(spark, dir)
      .select($"doc_id", multiplicity_stats(gram_hashes(tokens($"text"), 2)).as("ms"))
      .filter(element_at($"ms", 1) > 0)
      .select($"doc_id",
        element_at($"ms", 1).as("n_grams"),
        element_at($"ms", 2).as("distinct_grams"),
        element_at($"ms", 3).as("max_count"),
        round(element_at($"ms", 3).cast("double") / element_at($"ms", 1), 6).as("top_frac"))
      .orderBy($"doc_id")
  }

  private val q51Sql =
    """WITH words AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
      |         generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS gram
      |  FROM words QUALIFY gram IS NOT NULL),
      |c AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2)
      |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
      |  CAST(COUNT(*) AS BIGINT) AS distinct_grams,
      |  CAST(MAX(c) AS BIGINT) AS max_count,
      |  round(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_frac
      |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** PII / identifier scrubbing (north star): rewrite every identifier-
    * shaped match in `events.props` to a placeholder and keep the audit
    * count. Pure row-local regexp fold (graft.operators.Scrub) — zero
    * shuffle, the whole plan is a map over the scan; the email/IPv4 rules
    * are exercised on adversarial fixtures in ScrubSpec (the synthetic
    * events only carry digit runs). */
  private def q52Scrub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.Scrub.scrub(
        Tables.events(spark, dir).select($"event_id", $"props"), "props")
      .select($"event_id", $"props", $"props_redactions")
      .orderBy($"event_id")
  }

  // Counts mirror the engine's fold semantics: each rule counts on the
  // text AFTER the earlier rules ran (an email's digits never double-count).
  private val q52Sql =
    """WITH s1 AS (
      |  SELECT event_id,
      |    regexp_replace(props, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS p1,
      |    len(regexp_extract_all(props, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS c1
      |  FROM events),
      |s2 AS (
      |  SELECT event_id,
      |    regexp_replace(p1, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS p2,
      |    c1 + len(regexp_extract_all(p1, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS c2
      |  FROM s1)
      |SELECT event_id,
      |  regexp_replace(p2, '[0-9]+', '<NUM>', 'g') AS props,
      |  CAST(c2 + len(regexp_extract_all(p2, '[0-9]+')) AS BIGINT) AS props_redactions
      |FROM s2 ORDER BY event_id""".stripMargin

  /** Near-dup CLUSTERS (north star): connected components over the exact
    * Jaccard pair graph, one row per cluster with its canonical (minimum)
    * doc id. This is the step q23's pairwise output feeds at scale —
    * transitive near-dup chains (A~B~C with A!~C) collapse to one keeper.
    * Engine side is the alternating star contraction
    * (graft.operators.Components — O(log^2 n) bounded-shuffle rounds); the
    * oracle recomputes components with a recursive-CTE transitive closure,
    * an INDEPENDENT formulation that only exists at test scale. */
  private def q53DupClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    // pass the corpus count through the gate (metadata-only on parquet, but
    // the parameter keeps the gate free however this corpus is derived)
    val pairs = Dedup.jaccardPairsAuto(docs,
      "doc_id", "text", n = 3, minJac = 0.5, knownCount = Some(docs.count()))
    graft.operators.Components.connectedComponents(pairs, "id_a", "id_b")
      .groupBy($"component")
      .agg(count(lit(1)).as("n_members"),
        concat_ws(",",
          transform(sort_array(collect_list($"node")), _.cast("string"))).as("members"))
      .orderBy($"component")
  }


  private val q53Sql =
    s"""WITH RECURSIVE $closureCtes
      |SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members,
      |  array_to_string(list_sort(list(node)), ',') AS members
      |FROM comp GROUP BY component ORDER BY component""".stripMargin

  /** Leakage-safe split (north star): train/val/test assignment keyed on
    * the near-dup COMPONENT, so a paraphrased copy of a training document
    * can never land in the eval set — the contamination hole a row-wise
    * hash split leaves open. Engine: the q53 star-contraction components
    * + ONE id-keyed left join (singletons keep their own id) + the
    * portable md5 bucket ([[graft.operators.Sampling.leakageSafeSplit]]);
    * oracle: the recursive-CTE closure + the same hash thresholds — an
    * independent formulation of both the grouping and the assignment.
    * The hash pins the structural guarantee: split is a pure function of
    * group_key, so equal components ⟹ equal splits, row for row. */
  private def q234LeakageSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val pairs = Dedup.jaccardPairsAuto(docs,
      "doc_id", "text", n = 3, minJac = 0.5, knownCount = Some(docs.count()))
    graft.operators.Sampling.leakageSafeSplit(docs, "doc_id", pairs,
        "id_a", "id_b", "s234:",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select($"doc_id", $"group_key", $"split")
      .orderBy($"doc_id")
  }

  private val q234Sql =
    s"""WITH RECURSIVE $closureCtes,
      |g AS (
      |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS group_key
      |  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
      |b AS (
      |  SELECT doc_id, group_key,
      |    substr(md5('s234:' || CAST(group_key AS VARCHAR)), 1, 8) AS h
      |  FROM g)
      |SELECT doc_id, group_key,
      |  CASE WHEN h < 'cccccccc' THEN 'train'
      |       WHEN h < 'e6666666' THEN 'val'
      |       ELSE 'test' END AS split
      |FROM b ORDER BY doc_id""".stripMargin

  /** Quality-aware keeper selection (north star): within each near-dup
    * cluster keep the HIGHEST-quality copy, not the lowest id — the
    * "keep by quality signal, not arrival order" rule of modern curation
    * recipes (FineWeb/RefinedWeb). Engine: star-contraction components +
    * one id-keyed priority join + a map-side-combinable max_by aggregate
    * (Components.keeperByPriority — no per-component sort anywhere);
    * oracle: the same recursive-closure CTEs as q53 plus q19's quality
    * formula and a row_number window — independent formulations on both
    * the closure AND the argmax. */
  private def q79BestKeeper(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val pairs = Dedup.jaccardPairsAuto(docs,
      "doc_id", "text", n = 3, minJac = 0.5, knownCount = Some(docs.count()))
    val pri = docs.select($"doc_id", qualityScore($"text").as("quality"))
    graft.operators.Components.keeperByPriority(
        pairs, "id_a", "id_b", pri, "doc_id", "quality")
      .select($"node".as("doc_id"), $"component", $"quality",
        $"keeper".as("keeper_id"), $"is_keeper")
      .orderBy($"doc_id")
  }

  private val q79Sql =
    s"""WITH RECURSIVE $closureCtes,
      |q AS (
      |  SELECT doc_id,
      |    least(swr * 4.0, 1.0) * 0.4 + least(mtl / 8.0, 1.0) * 0.4
      |      + (1.0 - least(pr * 10.0, 1.0)) * 0.2 AS quality
      |  FROM (
      |    SELECT doc_id,
      |      CAST(len(list_filter(string_split(text, ' '), w -> w IN $enList)) AS DOUBLE)
      |        / len(string_split(text, ' ')) AS swr,
      |      CASE WHEN length(text) = 0 THEN 0.0
      |           ELSE CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE)
      |             / length(text) END AS pr,
      |      CAST(length(replace(text, ' ', '')) AS DOUBLE)
      |        / len(string_split(text, ' ')) AS mtl
      |    FROM documents)),
      |lab AS (SELECT c.node, c.component, q.quality FROM comp c JOIN q ON q.doc_id = c.node),
      |k AS (
      |  SELECT component, node AS keeper FROM (
      |    SELECT component, node,
      |      row_number() OVER (PARTITION BY component ORDER BY quality DESC, node ASC) AS rn
      |    FROM lab) WHERE rn = 1)
      |SELECT l.node AS doc_id, l.component, l.quality, k.keeper AS keeper_id,
      |  l.node = k.keeper AS is_keeper
      |FROM lab l JOIN k USING (component) ORDER BY doc_id""".stripMargin

  /** Corpus boilerplate line removal (north star): the CCNet/RefinedWeb
    * line-dedup stage. Both engines first build a multi-line corpus
    * DETERMINISTICALLY from the same tables (a universal header line plus
    * a per-source footer on 2/3 of docs — the per-site boilerplate
    * pattern), then remove every line whose document frequency exceeds 2%
    * of the corpus. Engine: Dedup.dropCommonSegments — df aggregate over
    * 8-byte line hashes + narrow literal-filter rebuild (the corpus text
    * is never shuffled); oracle: relational string_split / anti-join /
    * ordered string_agg — an independent formulation. */
  private def q57LineDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val built = docs.select($"doc_id",
      concat(
        lit("copyright footer all rights reserved\n"),
        $"text",
        when($"doc_id" % 3 =!= 0, concat(lit("\nnewsletter of "), $"source"))
          .otherwise(lit(""))).as("text"))
    Dedup.dropCommonSegments(built, "doc_id", "text",
        sep = "\n", maxDfFrac = 0.02)
      .select($"doc_id", $"text", $"n_removed")
      .orderBy($"doc_id")
  }

  private val q57Sql =
    """WITH built AS (
      |  SELECT doc_id,
      |    'copyright footer all rights reserved' || chr(10) || text ||
      |      CASE WHEN doc_id % 3 <> 0 THEN chr(10) || 'newsletter of ' || source
      |           ELSE '' END AS text
      |  FROM documents),
      |segs AS (
      |  SELECT doc_id, unnest(string_split(text, chr(10))) AS seg,
      |         generate_subscripts(string_split(text, chr(10)), 1) AS pos
      |  FROM built),
      |df AS (SELECT seg, COUNT(DISTINCT doc_id) AS df FROM segs GROUP BY seg),
      |hot AS (
      |  SELECT seg FROM df
      |  WHERE df > 0.02 * (SELECT COUNT(*) FROM documents)),
      |kept AS (
      |  SELECT s.doc_id, s.pos, s.seg FROM segs s
      |  LEFT JOIN hot h ON s.seg = h.seg WHERE h.seg IS NULL),
      |counts AS (SELECT doc_id, COUNT(*) AS n_total FROM segs GROUP BY doc_id),
      |keptagg AS (
      |  SELECT doc_id, string_agg(seg, chr(10) ORDER BY pos) AS text,
      |         COUNT(*) AS n_kept
      |  FROM kept GROUP BY doc_id)
      |SELECT c.doc_id, COALESCE(ka.text, '') AS text,
      |  CAST(c.n_total - COALESCE(ka.n_kept, 0) AS BIGINT) AS n_removed
      |FROM counts c LEFT JOIN keptagg ka USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** CCNet-style LM quality scoring (north star): fit an add-0.5 bigram
    * model on the English reference slice, score EVERY document by average
    * bigram log-probability. Engine: two hashed-gram count aggregates +
    * broadcast model join + exact-decimal per-doc sum (NgramLm — no gram
    * string ever materializes); oracle: string-keyed relational counts,
    * lead() bigrams, and the same decimal-summed ln — independent keying
    * AND independent bigram construction. */
  private def q56LmScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    graft.operators.NgramLm.scoreAgainst(
        docs, docs.filter($"lang" === "en"), "doc_id", "text", addK = 0.5)
      // hash-compare the order-independent decimal SUM, not the divided
      // average: avg sits arbitrarily close to round() half-boundaries
      // where engines' rounding of a 1-ulp-apart double legitimately
      // differs (seen at sf0.1), while the sum is bit-identical
      .select($"doc_id", $"n_bigrams", $"sum_logprob")
      .orderBy($"doc_id")
  }


  private val q56Sql =
    s"""WITH $lmCtes
      |SELECT doc_id, n_bigrams, sum_logprob
      |FROM perdoc ORDER BY doc_id""".stripMargin

  /** Character-entropy quality signal (north star): per-doc codepoint
    * count n and Σ c·ln(c) over the per-codepoint counts — the exactly-
    * reproducible halves of Shannon entropy H = ln(n) − Σc·ln(c)/n, the
    * classic cheap gibberish/base64/run detector beside the word-level
    * Gopher gates. Engine: the one-pass char_counts codegen kernel +
    * explode of ~alphabet-size count rows + exact-decimal term sum (the
    * q56 discipline — never hash the divided entropy, it sits on round
    * boundaries); oracle: per-character relational counts via substring
    * explode — independent counting. */
  private def q112CharEntropy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id",
        explode(graft.functions.expressions.TextExpressions.char_counts($"text")).as("c"))
      .withColumn("term", $"c".cast("double") * log($"c".cast("double")))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_chars"), Exact.dsum($"term", 18, 6).as("sum_clogc"))
      .orderBy($"doc_id")
  }

  private val q112Sql =
    """WITH chars AS (
      |  SELECT doc_id, substring(text, i, 1) AS ch
      |  FROM documents, LATERAL (
      |    SELECT unnest(generate_series(1, length(text))) AS i)),
      |cnt AS (
      |  SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch)
      |SELECT doc_id,
      |  CAST(SUM(c) AS BIGINT) AS n_chars,
      |  CAST(CAST(SUM(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
      |    AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_clogc
      |FROM cnt GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Shingle-containment pairs (north star): the asymmetric subsumed-
    * document signal — |A∩B|/|A| per directed pair, the dedup semantic
    * Jaccard misses when a short doc is quoted whole inside a long one.
    * Engine: one-sided df-ascending prefix filter + candidate-restricted
    * intersection (operators/Dedup.containmentPairs); oracle: the naive
    * all-pairs shingle join with the same ratio. */
  private def q111Containment(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Dedup.containmentPairs(Tables.documents(spark, dir),
        "doc_id", "text", n = 3, minContain = 0.7)
      .orderBy($"id_a", $"id_b")
  }

  private val q111Sql =
    """WITH words AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
      |         generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, w || ' ' || lead(w, 1) OVER o || ' ' || lead(w, 2) OVER o AS shingle
      |  FROM words WINDOW o AS (PARTITION BY doc_id ORDER BY pos)
      |  QUALIFY shingle IS NOT NULL),
      |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS i
      |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id <> y.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |  round(CAST(i AS DOUBLE) / ca.n, 6) AS containment,
      |  ca.n AS na, cb.n AS nb
      |FROM inter
      |JOIN cnt ca ON ca.doc_id = id_a
      |JOIN cnt cb ON cb.doc_id = id_b
      |WHERE CAST(i AS DOUBLE) / ca.n >= 0.7
      |ORDER BY id_a, id_b""".stripMargin

  /** DSIR importance weights (north star): unigram bag models over the
    * English slice (target) and the whole corpus (raw), every document
    * weighed by Σ ln p_T(w) − ln p_R(w) — the importance-resampling
    * selection signal. Engine: hashed-token counts + broadcast joins +
    * exact-decimal per-doc sum (operators/Dsir, no token string ever
    * shuffles); oracle: string-keyed counts and the same differenced
    * ln under the q56 decimal discipline — independent keying. */
  private def q109DsirWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    graft.operators.Dsir.weighAgainst(
        docs, docs.filter($"lang" === "en"), "doc_id", "text", addK = 0.5)
      .select($"doc_id", $"n_tokens", $"sum_logratio")
      .orderBy($"doc_id")
  }

  private val q109Sql =
    """WITH words AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |ct AS (SELECT w, COUNT(*) AS c FROM words WHERE lang = 'en' GROUP BY 1),
      |cr AS (SELECT w, COUNT(*) AS c FROM words GROUP BY 1),
      |nt AS (SELECT COUNT(*) AS n FROM words WHERE lang = 'en'),
      |nr AS (SELECT COUNT(*) AS n FROM words),
      |v AS (SELECT COUNT(DISTINCT w) AS v FROM words),
      |lp_scored AS (
      |  SELECT wo.doc_id,
      |    ln((COALESCE(ct.c, 0) + 0.5) / (nt.n + 0.5 * v.v)) -
      |    ln((COALESCE(cr.c, 0) + 0.5) / (nr.n + 0.5 * v.v)) AS lp
      |  FROM words wo
      |  LEFT JOIN ct ON wo.w = ct.w
      |  LEFT JOIN cr ON wo.w = cr.w
      |  CROSS JOIN nt CROSS JOIN nr CROSS JOIN v),
      |perdoc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |    CAST(CAST(SUM(CAST(lp AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
      |      AS sum_logratio
      |  FROM lp_scored GROUP BY doc_id)
      |SELECT doc_id, n_tokens, sum_logratio
      |FROM perdoc ORDER BY doc_id""".stripMargin

  /** DSIR selection composed end-to-end (north star): q109's importance
    * weights ranked per language and cut at the top quarter by
    * sum_logratio / n_tokens — the full select-like-the-target flow
    * (weights → no-sort histogram selection) under ONE hash. The oracle
    * replays the weights relationally (q109's CTEs) and restates the
    * histogram selection as the naive window-rank formulation — the q83
    * discipline applied to the DSIR signal. */
  private def q110DsirSelect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    // cache at the fan-out: topFractionByScore references its input ~3
    // times (stats, cells, verdict join) — the q85 discipline, without
    // which the corpus-wide token explode + model joins run thrice
    val weighted = graft.operators.Dsir.weighAgainst(
        docs, docs.filter($"lang" === "en"), "doc_id", "text", addK = 0.5)
      .join(docs.select($"doc_id", $"lang"), "doc_id")
      .withColumn("avg_logratio", $"sum_logratio" / $"n_tokens")
      .cache()
    graft.operators.Sampling.topFractionByScore(
        weighted, "doc_id", "avg_logratio", "lang", fraction = 0.25)
      .select($"doc_id", $"lang", $"n_tokens", $"sum_logratio")
      .orderBy($"doc_id")
  }

  private val q110Sql =
    """WITH words AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |ct AS (SELECT w, COUNT(*) AS c FROM words WHERE lang = 'en' GROUP BY 1),
      |cr AS (SELECT w, COUNT(*) AS c FROM words GROUP BY 1),
      |nt AS (SELECT COUNT(*) AS n FROM words WHERE lang = 'en'),
      |nr AS (SELECT COUNT(*) AS n FROM words),
      |v AS (SELECT COUNT(DISTINCT w) AS v FROM words),
      |lp_scored AS (
      |  SELECT wo.doc_id,
      |    ln((COALESCE(ct.c, 0) + 0.5) / (nt.n + 0.5 * v.v)) -
      |    ln((COALESCE(cr.c, 0) + 0.5) / (nr.n + 0.5 * v.v)) AS lp
      |  FROM words wo
      |  LEFT JOIN ct ON wo.w = ct.w
      |  LEFT JOIN cr ON wo.w = cr.w
      |  CROSS JOIN nt CROSS JOIN nr CROSS JOIN v),
      |perdoc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |    CAST(CAST(SUM(CAST(lp AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
      |      AS sum_logratio
      |  FROM lp_scored GROUP BY doc_id),
      |r AS (
      |  SELECT p.doc_id, d.lang, p.n_tokens, p.sum_logratio,
      |    row_number() OVER (PARTITION BY d.lang
      |      ORDER BY p.sum_logratio / p.n_tokens DESC, p.doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY d.lang) AS n
      |  FROM perdoc p JOIN documents d USING (doc_id))
      |SELECT doc_id, lang, n_tokens, sum_logratio FROM r
      |WHERE rn <= CAST(ceil(n * 0.25) AS BIGINT)
      |ORDER BY doc_id""".stripMargin

  /** Gopher-style hard quality gates (north star): word-count bounds,
    * mean-word-length bounds, alphabetic fraction, stopword minimum. The
    * engine evaluates every rule in INTEGER-exact cross-multiplied form
    * (no float division anywhere — the q56 round-boundary lesson applied
    * preemptively), as one narrow HOF map per row; the oracle recomputes
    * the stats relationally from exploded words. */
  private def q58GopherRules(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.QualityRules.annotate(
        Tables.documents(spark, dir), "text")
      .select($"doc_id", $"n_words", $"sum_word_len", $"n_alpha_words",
        $"n_stopwords", $"gopher_pass")
      .orderBy($"doc_id")
  }

  private val q58Sql =
    """WITH words AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |s AS (
      |  SELECT doc_id,
      |    CAST(COUNT(*) AS BIGINT) AS n_words,
      |    CAST(SUM(len(w)) AS BIGINT) AS sum_word_len,
      |    CAST(SUM(CASE WHEN regexp_matches(w, '[A-Za-z]') THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha_words,
      |    CAST(SUM(CASE WHEN w IN ('the','a','and','of','to','in','be','that','have','with')
      |             THEN 1 ELSE 0 END) AS BIGINT) AS n_stopwords
      |  FROM words GROUP BY doc_id)
      |SELECT doc_id, n_words, sum_word_len, n_alpha_words, n_stopwords,
      |  (n_words BETWEEN 50 AND 100000
      |    AND sum_word_len >= 3 * n_words AND sum_word_len <= 10 * n_words
      |    AND n_alpha_words * 100 >= 80 * n_words
      |    AND n_stopwords >= 2) AS gopher_pass
      |FROM s ORDER BY doc_id""".stripMargin

  /** Cross-corpus decontamination (north star): treat src0 as "already
    * trained on" and drop every other-source doc whose token-set
    * fingerprint matches a seen doc. Engine: distinct-digest reduce +
    * anti-join (text never shuffles); oracle: NOT IN over the same
    * fingerprint expression. */
  private def q59DropSeen(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    graft.operators.Dedup.dropSeenDocs(
        docs.filter($"source" =!= "src0"), docs.filter($"source" === "src0"),
        "text", digest = fingerprint)
      .select($"doc_id", $"source")
      .orderBy($"doc_id")
  }

  private val q59Sql =
    """WITH fp AS (
      |  SELECT doc_id, source,
      |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
      |  FROM documents)
      |SELECT doc_id, source FROM fp
      |WHERE source <> 'src0'
      |  AND fp NOT IN (SELECT fp FROM fp WHERE source = 'src0')
      |ORDER BY doc_id""".stripMargin

  /** Fuzzy entity resolution (north star adjunct): every customer-name
    * pair within edit distance 1 — FuzzyJoin's blocked join vs the
    * oracle's quadratic cross-join definition. At maxDist = 1 the
    * dispatcher takes the SymSpell deletion-neighborhood path (the
    * PassJoin segment path is the t >= 3 branch, exercised by
    * FuzzyJoinSpec's t = 3 fixtures). Two genuinely different
    * algorithms: lossless blocking + candidate verification on the
    * engine side, full |n|^2 levenshtein in DuckDB (only possible at
    * test scale — which is the point). */
  private def q60FuzzyNames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir).select($"c_custkey", $"c_name")
    graft.operators.FuzzyJoin.editDistancePairs(
        c, c, "c_custkey", "c_name", "c_custkey", "c_name", maxDist = 1)
      .filter($"id_a" < $"id_b")
      .orderBy($"id_a", $"id_b")
  }

  private val q60Sql =
    """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
      |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
      |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
      |WHERE levenshtein(a.c_name, b.c_name) <= 1
      |ORDER BY id_a, id_b""".stripMargin

  /** Entity-resolution survivorship (golden record): the full MDM chain —
    * fuzzy name pairs (q60's SymSpell blocking) → connected components →
    * per-cluster field-wise merge: member count, canonical (min) name,
    * best account balance, and the market segment of the highest-balance member
    * (tie → lowest id, q79's max_by tie discipline). Every stage under
    * ONE DuckDB hash: the oracle recomputes pairs quadratically, closes
    * them with a recursive CTE, and restates the argmax as a window —
    * independent algorithms at each stage. */
  private def q107Survivorship(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir)
    val allPairs = graft.operators.FuzzyJoin.editDistancePairs(
        cust.select($"c_custkey", $"c_name"), cust.select($"c_custkey", $"c_name"),
        "c_custkey", "c_name", "c_custkey", "c_name", maxDist = 1)
      .filter($"id_a" < $"id_b")
    // MDM blocking rule: only same-segment records are merge candidates
    // (sequential synthetic names would otherwise chain the whole table
    // into one cluster — and a real pipeline blocks on source/type too)
    val segs = cust.select($"c_custkey", $"c_mktsegment")
    val pairs = allPairs
      .join(segs.select($"c_custkey".as("id_a"), $"c_mktsegment".as("seg_a")), "id_a")
      .join(segs.select($"c_custkey".as("id_b"), $"c_mktsegment".as("seg_b")), "id_b")
      .filter($"seg_a" === $"seg_b")
      .select($"id_a", $"id_b")
    val comps = graft.operators.Components.connectedComponents(pairs, "id_a", "id_b")
    val labeled = comps.join(
      cust.select($"c_custkey".as("node"), $"c_name", $"c_acctbal", $"c_mktsegment"),
      "node")
    labeled.groupBy($"component")
      .agg(
        count(lit(1)).as("n_members"),
        min($"c_name").as("canonical_name"),
        max($"c_acctbal").as("best_acctbal"),
        max_by($"c_mktsegment", struct($"c_acctbal", -$"node")).as("segment_of_best"))
      .orderBy($"component")
  }

  private val q107Sql =
    """WITH RECURSIVE pairs AS (
      |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
      |  FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
      |    AND a.c_mktsegment = b.c_mktsegment
      |  WHERE levenshtein(a.c_name, b.c_name) <= 1),
      |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
      |          UNION SELECT id_b, id_a FROM pairs),
      |reach(n, r) AS (
      |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      |  UNION
      |  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.n),
      |comp AS (SELECT n AS node, MIN(r) AS component FROM reach GROUP BY n),
      |lab AS (
      |  SELECT comp.node, comp.component, c.c_name, c.c_acctbal, c.c_mktsegment
      |  FROM comp JOIN customer c ON c.c_custkey = comp.node),
      |g AS (
      |  SELECT component, COUNT(*) AS n_members, MIN(c_name) AS canonical_name,
      |    MAX(c_acctbal) AS best_acctbal
      |  FROM lab GROUP BY component),
      |best AS (
      |  SELECT component, c_mktsegment,
      |    row_number() OVER (PARTITION BY component
      |                       ORDER BY c_acctbal DESC, node) AS rn
      |  FROM lab)
      |SELECT g.component, g.n_members, g.canonical_name, g.best_acctbal,
      |  b.c_mktsegment AS segment_of_best
      |FROM g JOIN best b ON b.component = g.component AND b.rn = 1
      |ORDER BY g.component""".stripMargin

  /** Repeated-substring spans (Lee et al. dedup, north star): maximal
    * merged runs of tokens covered by an 8-gram occurring >= 2 times
    * corpus-wide. Engine: hashed-shingle occurrence agg + back-join +
    * per-doc island merge (SpanDedup); oracle: string-keyed shingles via
    * list_slice and the same gaps-and-islands in window SQL — independent
    * keying (xxhash64 vs raw strings) and independent slicing. */
  private def q61DupSpans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.SpanDedup.repeatedSpans(
        Tables.documents(spark, dir), "doc_id", "text", w = 8)
      .orderBy($"doc_id", $"span_start")
  }

  private val q61Sql =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |occ AS (
      |  SELECT doc_id,
      |    unnest(generate_series(1, greatest(len(ts) - 8 + 1, 0))) AS pos,
      |    ts
      |  FROM toks),
      |sh AS (
      |  SELECT doc_id, pos,
      |    array_to_string(list_slice(ts, pos, pos + 8 - 1), ' ') AS s
      |  FROM occ),
      |rep AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) >= 2),
      |cov AS (
      |  SELECT o.doc_id, o.pos, o.pos + 8 - 1 AS e
      |  FROM sh o JOIN rep USING (s)),
      |brk AS (
      |  SELECT doc_id, pos, e,
      |    CASE WHEN pos > COALESCE(MAX(e) OVER (PARTITION BY doc_id
      |        ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      -1) + 1 THEN 1 ELSE 0 END AS b
      |  FROM cov),
      |isl AS (
      |  SELECT doc_id, pos, e,
      |    SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM brk)
      |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
      |  CAST(MAX(e) AS BIGINT) AS span_end
      |FROM isl GROUP BY doc_id, island
      |ORDER BY doc_id, span_start""".stripMargin

  /** Corpus rewrite with all repeated spans dropped — the transformation
    * form of q61, one row per document with audit counts. */
  private def q62SpanRewrite(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.SpanDedup.removeRepeatedSpans(
        Tables.documents(spark, dir), "doc_id", "text", w = 8)
      .orderBy($"doc_id")
  }

  private val q62Sql =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |occ AS (
      |  SELECT doc_id,
      |    unnest(generate_series(1, greatest(len(ts) - 8 + 1, 0))) AS pos,
      |    ts
      |  FROM toks),
      |sh AS (
      |  SELECT doc_id, pos,
      |    array_to_string(list_slice(ts, pos, pos + 8 - 1), ' ') AS s
      |  FROM occ),
      |rep AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) >= 2),
      |covpos AS (
      |  SELECT DISTINCT o.doc_id, o.pos + d AS p
      |  FROM sh o JOIN rep USING (s),
      |       unnest(generate_series(0, 7)) AS t(d)),
      |tok AS (
      |  SELECT doc_id, unnest(ts) AS tok,
      |    generate_subscripts(ts, 1) AS pos
      |  FROM toks),
      |kept AS (
      |  SELECT t.doc_id, t.pos, t.tok FROM tok t
      |  LEFT JOIN covpos c ON t.doc_id = c.doc_id AND t.pos = c.p
      |  WHERE c.p IS NULL),
      |agg AS (
      |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text,
      |    COUNT(*) AS n_kept
      |  FROM kept GROUP BY doc_id),
      |tot AS (SELECT doc_id, len(ts) AS n_tokens FROM toks)
      |SELECT tot.doc_id, COALESCE(agg.text, '') AS text,
      |  CAST(tot.n_tokens AS BIGINT) AS n_tokens,
      |  CAST(tot.n_tokens - COALESCE(agg.n_kept, 0) AS BIGINT) AS n_dropped
      |FROM tot LEFT JOIN agg USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Context-window chunking (north star): 32-token windows, stride 24
    * (8-token overlap) — the tokenizer-feed step of a pretraining
    * pipeline. Row-local on the engine side (PlanSpec-style no-exchange
    * pin lives in PackingSpec); the oracle re-derives every window with
    * generate_series + list_slice. */
  private def q64Chunks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.Packing.chunkTokens(
        Tables.documents(spark, dir), "doc_id", "text",
        chunkSize = 32, stride = 24)
      .orderBy($"doc_id", $"chunk_idx")
  }

  private val q64Sql =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |st AS (
      |  SELECT doc_id, ts,
      |    unnest(generate_series(1, len(ts), 24)) AS st
      |  FROM toks)
      |SELECT doc_id,
      |  CAST((st - 1) // 24 + 1 AS BIGINT) AS chunk_idx,
      |  CAST(st AS BIGINT) AS start_pos,
      |  CAST(least(32, len(ts) - st + 1) AS BIGINT) AS n_tokens,
      |  array_to_string(list_slice(ts, st, st + 32 - 1), ' ') AS chunk
      |FROM st
      |WHERE st = 1 OR st - 24 + 32 - 1 < len(ts)
      |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Incremental near-dup screening (north star): build a persisted
    * MinHash-LSH index over the standing corpus (every source but src0),
    * then admit only the src0 batch docs that near-duplicate nothing in
    * it — the continuous-ingest dedup workflow. Hash-based (rows-only);
    * MinHashIndexSpec proves probe ≡ in-memory banding, estimator error
    * bounds, and the drop/keep split. */
  /** Index scratch paths for q65/q71/q121/q213 live in
    * [[graft.core.Scratch]] (pid-keyed, reaped on shutdown / next run).
    */
  private def q65IndexPath(dir: String): String =
    graft.core.Scratch.dir(dir, "")

  private def q65IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val path = q65IndexPath(dir)
    graft.operators.MinHashIndex.save(
      docs.filter($"source" =!= "src0"), "doc_id", "text", path)
    graft.operators.MinHashIndex.dropSeenNearDups(
        docs.filter($"source" === "src0"), "doc_id", "text", path,
        minEstJac = 0.5)
      .select($"doc_id")
      .orderBy($"doc_id")
  }

  /** The COMPOSED curation pipeline end to end (north star): annotate →
    * quality/language/length filter → exact dedup (min id per digest) →
    * pairwise near-dup removal at Jaccard >= 0.8 — the default
    * TrainingDataPipeline.curate flow, emitted per-doc so the driver hash
    * pins the final corpus, not just its row count. Every stage is
    * individually oracled (q18/q19/q20/q21/q24); this row pins their
    * COMPOSITION, where stage-ordering or column-plumbing regressions
    * live. The near-dup stage rides the MinHash screen whose losslessness
    * q24 establishes; the oracle recomputes the pairs relationally. */
  /** The curation FUNNEL relationally (q68's companion): per-stage
    * surviving row counts — input → quality/language/length filters →
    * exact dedup → near-dup removal. q68 pins the final corpus content;
    * this pins how many rows each stage removed, which is the number a
    * 100 TB curation run actually watches (a filter suddenly eating 40%
    * of a source shows up here before anyone reads documents). */
  private def q76Funnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.pipelines.TrainingDataPipeline.funnelFrame(
        Tables.documents(spark, dir), "doc_id", "text")
      .orderBy($"ord")
  }

  // lazy: composes curationCtes, which is declared later in this object —
  // an eager val here would read null at object-initialization time
  private lazy val q76Sql =
    s"""WITH $curationCtes
       |SELECT * FROM (
       |  SELECT 1 AS ord, 'input' AS stage, COUNT(*) AS n FROM documents
       |  UNION ALL SELECT 2, 'after_filters', COUNT(*) FROM filt
       |  UNION ALL SELECT 3, 'after_exact_dedup', COUNT(*) FROM ex
       |  UNION ALL SELECT 4, 'after_near_dedup', COUNT(*) FROM ex
       |    WHERE doc_id NOT IN (SELECT id_b FROM losers))
       |ORDER BY ord""".stripMargin

  /** The FULL training-data flow, end to end (north star): curate (q68's
    * chain) → per-source token-budget cap (q74's op) → greedy sequence
    * packing (q49's op) → deterministic shard shuffle (q75's op), reported
    * as one row per training shard carrying an order-sensitive digest of
    * its entire (pos → chunk → docs) content. Every stage is individually
    * oracled; THIS row pins their composition — the handoff columns, the
    * stage order, and the determinism of the whole chain — which is where
    * end-to-end regressions live. The oracle replays all four stages
    * relationally: the shared curation CTEs, a window cumsum for the
    * budget, the recursive packing walk, the shard CASE ladder, and
    * string_agg(... ORDER BY pos) for the digest.
    *
    * Scale shape: inherits each stage's own (one annotated scan + two
    * bounded dedup shuffles; prefix-histogram budget, no per-stratum
    * global sort; per-bucket packing; nShards-way exchange with
    * per-shard sorts) — composing them adds NO new shuffle beyond the
    * per-shard digest aggregation, whose groups are the nShards output
    * rows. */
  private def q77TrainingFlow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sharded = graft.pipelines.TrainingDataPipeline.shardTrainingSet(
      Tables.documents(spark, dir), "doc_id", "text",
      budgetPerStratum = Some(2000L), maxTokens = 512, nShards = 4,
      bucketHexChars = 1)
    sharded.groupBy($"shard")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum($"total_tokens").cast("long").as("shard_tokens"),
        md5(concat_ws("|", transform(
            array_sort(collect_list(struct($"pos", $"chunk_id", $"doc_ids"))),
            s => concat_ws(":", s("pos").cast("string"), s("chunk_id"),
              s("doc_ids")))))
          .as("digest"))
      .orderBy($"shard")
  }

  // lazy: composes curationCtes (declared below)
  private lazy val q77Sql =
    s"""WITH RECURSIVE $curationCtes,
       |kept AS (
       |  -- ex carries no source (the curation CTEs project it away);
       |  -- doc_id is unique in documents, so the join re-attaches it 1:1
       |  SELECT e.doc_id, d.source, CAST(e.n_tokens AS BIGINT) AS n
       |  FROM ex e JOIN documents d ON d.doc_id = e.doc_id
       |  WHERE e.doc_id NOT IN (SELECT id_b FROM losers)),
       |bud AS (
       |  SELECT doc_id, n,
       |    SUM(n) OVER (PARTITION BY source
       |      ORDER BY substr(md5('budget:' || CAST(doc_id AS VARCHAR)), 1, 8), doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM kept),
       |surv AS (SELECT doc_id, n FROM bud WHERE cum <= 2000),
       |ordered AS (
       |  SELECT doc_id, n,
       |    md5('pack:' || CAST(doc_id AS VARCHAR)) AS h,
       |    substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 1) AS bucket,
       |    row_number() OVER (PARTITION BY substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 1)
       |                       ORDER BY md5('pack:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
       |  FROM surv),
       |walk AS (
       |  SELECT bucket, rn, doc_id, n, 0 AS ci, n AS toks FROM ordered WHERE rn = 1
       |  UNION ALL
       |  SELECT o.bucket, o.rn, o.doc_id, o.n,
       |    CASE WHEN w.toks + o.n > 512 THEN w.ci + 1 ELSE w.ci END,
       |    CASE WHEN w.toks + o.n > 512 THEN o.n ELSE w.toks + o.n END
       |  FROM walk w JOIN ordered o ON o.bucket = w.bucket AND o.rn = w.rn + 1),
       |chunks AS (
       |  SELECT bucket || '-' || CAST(ci AS VARCHAR) AS chunk_id,
       |    CAST(SUM(n) AS BIGINT) AS total_tokens,
       |    array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
       |  FROM walk GROUP BY 1),
       |chunk_h AS (
       |  SELECT chunk_id, total_tokens, doc_ids,
       |    substr(md5('shuffle:' || chunk_id), 1, 8) AS h
       |  FROM chunks),
       |sharded AS (
       |  SELECT chunk_id, total_tokens, doc_ids,
       |    CASE WHEN h < '40000000' THEN 0
       |         WHEN h < '80000000' THEN 1
       |         WHEN h < 'c0000000' THEN 2
       |         ELSE 3 END AS shard, h
       |  FROM chunk_h),
       |ranked AS (
       |  SELECT shard, chunk_id, total_tokens, doc_ids,
       |    row_number() OVER (PARTITION BY shard ORDER BY h, chunk_id) AS pos
       |  FROM sharded)
       |SELECT CAST(shard AS INT) AS shard, COUNT(*) AS n_chunks,
       |  CAST(SUM(total_tokens) AS BIGINT) AS shard_tokens,
       |  md5(string_agg(CAST(pos AS VARCHAR) || ':' || chunk_id || ':' || doc_ids,
       |                 '|' ORDER BY pos)) AS digest
       |FROM ranked GROUP BY shard
       |ORDER BY shard""".stripMargin

  private def q68Pipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.pipelines.TrainingDataPipeline.curate(
        Tables.documents(spark, dir), "doc_id", "text")
      .select($"doc_id", md5($"text").as("text_digest"), $"pred_lang",
        $"n_tokens")
      .orderBy($"doc_id")
  }

  /** The relational curation chain — a CTE list (no WITH keyword: q68/q76
    * prepend `WITH`, q77 `WITH RECURSIVE` for its packing walk), shared
    * verbatim by every oracle that replays TrainingDataPipeline.curate:
    * quality/lang annotation (`ann`), language filter (`filt`), exact
    * dedup (`ex`), near-dup losers at Jaccard >= 0.8 (`losers`). A single
    * constant, composed — never regex-carved — so an edit here changes
    * all dependent oracles together and stage drift is impossible. */
  private val curationCtes = {
    val langCase =
      s"""CASE WHEN ${hits("en")} = best AND best > 0 THEN 'en'
         |     WHEN ${hits("de")} = best AND best > 0 THEN 'de'
         |     WHEN ${hits("fr")} = best AND best > 0 THEN 'fr'
         |     WHEN ${hits("es")} = best AND best > 0 THEN 'es'
         |     ELSE 'und' END""".stripMargin
    s"""q AS (
       |  SELECT doc_id, text,
       |    least(CAST(len(list_filter(string_split(text, ' '), w -> w IN $enList)) AS DOUBLE)
       |        / len(string_split(text, ' ')) * 4.0, 1.0) * 0.4
       |    + least(CAST(length(replace(text, ' ', '')) AS DOUBLE)
       |        / len(string_split(text, ' ')) / 8.0, 1.0) * 0.4
       |    + (1.0 - least(CASE WHEN length(text) = 0 THEN 0.0
       |          ELSE CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE)
       |            / length(text) END * 10.0, 1.0)) * 0.2 AS quality,
       |    greatest(${hits("en")}, ${hits("de")}, ${hits("fr")}, ${hits("es")}) AS best,
       |    len(string_split(text, ' ')) AS n_tokens
       |  FROM documents),
       |ann AS (
       |  SELECT doc_id, text, md5(text) AS text_digest, n_tokens,
       |    $langCase AS pred_lang
       |  FROM q
       |  WHERE quality >= 0.3 AND n_tokens >= 5),
       |filt AS (
       |  SELECT * FROM ann WHERE pred_lang IN ('en', 'de', 'fr', 'es')),
       |ex AS (
       |  SELECT *, row_number() OVER (PARTITION BY text_digest ORDER BY doc_id) AS rn
       |  FROM filt QUALIFY rn = 1),
       |words AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
       |         generate_subscripts(string_split(text, ' '), 1) AS pos
       |  FROM ex),
       |sh AS (
       |  SELECT DISTINCT doc_id, w || ' ' || lead(w, 1) OVER o || ' ' || lead(w, 2) OVER o AS shingle
       |  FROM words WINDOW o AS (PARTITION BY doc_id ORDER BY pos)
       |  QUALIFY shingle IS NOT NULL),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS i
       |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |losers AS (
       |  SELECT DISTINCT id_b FROM inter
       |  JOIN cnt ca ON ca.doc_id = id_a
       |  JOIN cnt cb ON cb.doc_id = id_b
       |  WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.8)""".stripMargin
  }

  private val q68Sql =
    s"""WITH $curationCtes
       |SELECT doc_id, text_digest, pred_lang, CAST(n_tokens AS BIGINT) AS n_tokens
       |FROM ex
       |WHERE doc_id NOT IN (SELECT id_b FROM losers)
       |ORDER BY doc_id""".stripMargin

  /** Per-(source, lang) curation dashboard (north star): the rollup a
    * corpus owner watches — volume, token mass, quality (order-independent
    * decimal sum), Gopher pass counts (integer-exact), and exact-dup
    * counts (corpus-wide digest df >= 2). One annotated scan + one digest
    * aggregate + one group-by; every signal reuses an oracled operator. */
  private def q66SourceReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val dupDigests = docs
      .groupBy(md5($"text").as("digest")).agg(count(lit(1)).as("c"))
      .filter($"c" >= 2).select($"digest")
    docs
      .withColumn("n_tokens", graft.functions.TextFunctions.tokenCount($"text"))
      .withColumn("quality", graft.functions.TextFunctions.qualityScore($"text"))
      .withColumn("gopher", graft.operators.QualityRules.passes("text",
        graft.operators.QualityRules.Config(minWords = 30)))
      .withColumn("digest", md5($"text"))
      .join(dupDigests.withColumn("is_dup", lit(1L)), Seq("digest"), "left")
      .groupBy($"source", $"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tokens").cast("long").as("total_tokens"),
        Exact.dsum($"quality", 18, 6).as("sum_quality"),
        sum(when($"gopher", 1L).otherwise(0L)).as("n_gopher_pass"),
        sum(coalesce($"is_dup", lit(0L))).as("n_dup_docs"))
      .orderBy($"source", $"lang")
  }

  private val q66Sql = {
    val stopList = "('the','a','and','of','to','in','be','that','have','with')"
    s"""WITH ann AS (
       |  SELECT source, lang, md5(text) AS digest,
       |    len(string_split(text, ' ')) AS n_tokens,
       |    least(CAST(len(list_filter(string_split(text, ' '), w -> w IN $enList)) AS DOUBLE)
       |        / len(string_split(text, ' ')) * 4.0, 1.0) * 0.4
       |      + least(CAST(length(replace(text, ' ', '')) AS DOUBLE)
       |        / len(string_split(text, ' ')) / 8.0, 1.0) * 0.4
       |      + (1.0 - least(CASE WHEN length(text) = 0 THEN 0.0
       |          ELSE CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE)
       |            / length(text) END * 10.0, 1.0)) * 0.2 AS quality,
       |    (len(string_split(text, ' ')) BETWEEN 30 AND 100000)
       |      AND list_sum(list_transform(string_split(text, ' '), w -> length(w)))
       |            >= 3 * len(string_split(text, ' '))
       |      AND list_sum(list_transform(string_split(text, ' '), w -> length(w)))
       |            <= 10 * len(string_split(text, ' '))
       |      AND 100 * len(list_filter(string_split(text, ' '), w -> regexp_matches(w, '[A-Za-z]')))
       |            >= 80 * len(string_split(text, ' '))
       |      AND len(list_filter(string_split(text, ' '), w -> w IN $stopList)) >= 2
       |      AS gopher
       |  FROM documents),
       |dup AS (SELECT md5(text) AS digest FROM documents
       |        GROUP BY 1 HAVING COUNT(*) >= 2)
       |SELECT source, lang,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |  CAST(CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_quality,
       |  CAST(SUM(CASE WHEN gopher THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_pass,
       |  CAST(SUM(CASE WHEN ann.digest IN (SELECT digest FROM dup) THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
       |FROM ann
       |GROUP BY source, lang
       |ORDER BY source, lang""".stripMargin
  }

  /** HTML extraction (S13 — the crawl-extraction semantics of
    * get_coopang_best_item_id / get_best_item_review, engine-side): pages
    * are synthesized deterministically from `documents` (title, a
    * /products/<id> anchor, a class-marked review div, a script block
    * that must NOT leak into visible text), then sources/HtmlExtract
    * pulls the product id, review text, link count, and tag-stripped
    * body length — all row-local codegen regex, no UDF. The oracle runs
    * the SAME RE2-compatible patterns in DuckDB over the same
    * synthesized pages, so every extraction sits under the hash. */
  private def q141HtmlExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.HtmlExtract
    val pages = Tables.documents(spark, dir).select(
      $"doc_id",
      concat(
        lit("<html><head><title>Item "), $"doc_id",
        lit("</title><script>var hidden = 1;</script></head><body>"),
        lit("<a href=\"https://shop.example/vp/products/"), $"doc_id" * 7,
        lit("?src=best\">item</a>"),
        lit("<a href=\"https://shop.example/help\">help</a>"),
        lit("<div class=\"review-text\">"), substring($"text", 1, 80),
        lit("</div><p>"), substring($"text", 81, 40),
        lit("</p></body></html>")).as("html"))
    pages.select(
      $"doc_id",
      HtmlExtract.title($"html").as("title"),
      element_at(HtmlExtract.productIds($"html"), 1).cast("long").as("product_id"),
      size(HtmlExtract.links($"html")).as("n_links"),
      element_at(HtmlExtract.classTexts($"html", "review-text"), 1).as("review"),
      length(HtmlExtract.visibleText($"html")).as("body_len"))
      .orderBy($"doc_id")
  }

  private val q141Sql =
    """WITH pages AS (
      |  SELECT doc_id,
      |    '<html><head><title>Item ' || doc_id ||
      |    '</title><script>var hidden = 1;</script></head><body>' ||
      |    '<a href="https://shop.example/vp/products/' || (doc_id * 7) ||
      |    '?src=best">item</a>' ||
      |    '<a href="https://shop.example/help">help</a>' ||
      |    '<div class="review-text">' || substr(text, 1, 80) ||
      |    '</div><p>' || substr(text, 81, 40) ||
      |    '</p></body></html>' AS html
      |  FROM documents)
      |SELECT doc_id,
      |  regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
      |  CAST(regexp_extract(html, 'href="[^"]*/products/([0-9]+)[^"]*"', 1) AS BIGINT) AS product_id,
      |  CAST(len(regexp_extract_all(html, 'href="([^"]*)"', 1)) AS INT) AS n_links,
      |  regexp_extract(html, '<[a-z]+ class="[^"]*review-text[^"]*">([^<]*)</[a-z]+>', 1) AS review,
      |  CAST(length(trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |    regexp_replace(regexp_replace(html,
      |      '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
      |      '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
      |      '<[^>]*>', ' ', 'g'),
      |      '&amp;', '&', 'g'),
      |      '&lt;', '<', 'g'),
      |      '&gt;', '>', 'g'),
      |      '\s+', ' ', 'g'))) AS INT) AS body_len
      |FROM pages
      |ORDER BY doc_id""".stripMargin

  override def queries: Seq[Q] = Seq(
    Q("q141_html_extract", q141HtmlExtract, Some(q141Sql),
      "S13 crawl extraction: product ids, reviews, visible text via codegen regex"),
    Q("q66_source_report", q66SourceReport, Some(q66Sql),
      "per-source curation dashboard: volume, quality, Gopher, dup counts (north star)"),
    Q("q68_pipeline", q68Pipeline, Some(q68Sql),
      "TrainingDataPipeline.curate end to end: the composed curation flow per-doc (north star)"),
    Q("q65_incremental_dedup", q65IncrementalDedup, None,
      "batch-vs-corpus near-dup screening via persisted MinHash index (rows-only, spec-verified)"),
    Q("q64_chunking", q64Chunks, Some(q64Sql),
      "overlapping context-window chunking: row-local windows vs generate_series oracle (north star)"),
    Q("q61_dup_spans", q61DupSpans, Some(q61Sql),
      "repeated 8-gram spans: hashed-shingle islands vs string-keyed window oracle (north star)"),
    Q("q62_span_rewrite", q62SpanRewrite, Some(q62Sql),
      "corpus rewrite dropping repeated spans, with audit counts (north star)"),
    Q("q60_fuzzy_names", q60FuzzyNames, Some(q60Sql),
      "edit-distance-1 name pairs: SymSpell deletion blocking vs quadratic oracle"),
    Q("q107_survivorship", q107Survivorship, Some(q107Sql),
      "entity-resolution golden record: fuzzy pairs -> components -> field-wise merge (north star)"),
    Q("q59_drop_seen", q59DropSeen, Some(q59Sql),
      "cross-corpus decontamination: distinct-digest anti-join vs NOT-IN oracle (north star)"),
    Q("q58_gopher_rules", q58GopherRules, Some(q58Sql),
      "Gopher hard quality gates in integer-exact rule arithmetic (north star)"),
    Q("q213_index_delete", q213IndexDelete, Some(q213Sql),
      "targeted delete on the persisted BM25 index: corrected df/N stats under one hash (north star)"),
    Q("q225_batched_probe", q225BatchedProbe, Some(q225Sql),
      "batched BM25 probe: N queries in ONE plan over the persisted index, scores+ranks under one hash (north star)"),
    Q("q228_batched_probe_lifecycle", q228BatchedProbeLifecycle, Some(q228Sql),
      "batched probe over a MUTATED index: save -> delete -> upsert, then one plan for N queries, corrected stats under one hash (north star)"),
    // q247 deliberately SHARES q225Sql (the q221/q119 precedent): its
    // claim is "stream-maintained + restored ≡ the plain full-corpus
    // probe" — edit q225Sql with care.
    Q("q247_stream_maintained_probe", q247StreamMaintainedProbe, Some(q225Sql),
      "ingest stream with in-stream maintenance cycles (fsck-gated snapshots + prune inside foreachBatch), poison, restore from the stream's own snapshot, one batched probe (north star)"),
    Q("q248_minhash_lifecycle_recall", q248MinhashLifecycleRecall, Some(q248Sql),
      "MinHash screen recall gate AFTER save/append/delete/compact: every true near-dup caught, zero stale matches on deleted ids (north star)"),
    Q("q250_snapshot_exposure", q250SnapshotExposure, Some(q250Sql),
      "right-to-be-forgotten vs snapshots: exposure report per standing tag, scrub drops exposed tags, clean tag survives (north star)"),
    Q("q251_answers_erasure", q251AnswersErasure, Some(q251Sql),
      "right-to-be-forgotten vs SERVED ANSWERS: live serve stream, then forget fan-out erases ranked hits under gap semantics — original ranks kept, forgotten rows gone (north star)"),
    Q("q220_index_upsert", q220IndexUpsert, Some(q220Sql),
      "upsert on the persisted BM25 index: edited docs replace, fresh docs insert, stats corrected, under one hash (north star)"),
    // q221 deliberately SHARES q119Sql (the q121 precedent): its claim is
    // "rollback ≡ the never-mutated index", so the plain-corpus oracle
    // gates it — edit q119Sql with care.
    Q("q221_index_rollback", q221IndexRollback, Some(q119Sql),
      "snapshot + rollback on the persisted BM25 index: poison (delete+upsert) then restore == never-mutated probe (north star)"),
    Q("q222_rank_drift", q222RankDrift, Some(q222Sql),
      "rank drift between index generations: snapshot time-travel probe vs live probe, exact integer diff under one hash (north star)"),
    Q("q231_incremental_snapshot", q231IncrementalSnapshot, Some(q231Sql),
      "content-addressed incremental snapshots: dedup, ref-resolved restore, view time travel, GC"),
    Q("q226_snapshot_prune", q226SnapshotPrune, Some(q226Sql),
      "snapshot retention: prune to keepLast=2 then probe each surviving generation via time travel, per-tag stats under one hash (north star)"),
    Q("q224_drop_ledger", q224DropLedger, Some(q224Sql),
      "per-document drop ledger: first-failure-wins reason across langid -> Gopher -> survivor-aware exact dedup (north star)"),
    Q("q217_trained_quality", q217TrainedQuality, Some(q217Sql),
      "trained quality scorer: quantized-GD logistic regression + tercile buckets under one hash (north star)"),
    Q("q239_calibration", q239Calibration, Some(q239Sql),
      "scorer calibration audit: fixed-width reliability bins + cross-multiplied monotonicity bits (north star)"),
    Q("q56_lm_score", q56LmScore, Some(q56Sql),
      "add-k bigram LM quality scoring: hashed-gram engine vs string-keyed oracle (north star)"),
    Q("q109_dsir_weights", q109DsirWeights, Some(q109Sql),
      "DSIR importance weights: target/raw unigram log-ratio per doc (north star)"),
    Q("q110_dsir_select", q110DsirSelect, Some(q110Sql),
      "DSIR selection end to end: weights -> per-language top quarter, histogram plan vs window oracle (north star)"),
    Q("q111_containment", q111Containment, Some(q111Sql),
      "asymmetric shingle containment pairs: one-sided prefix filter vs all-pairs oracle (north star)"),
    Q("q112_char_entropy", q112CharEntropy, Some(q112Sql),
      "character-entropy quality signal: one-pass codepoint-count kernel vs substring-explode oracle (north star)"),
    Q("q57_line_dedup", q57LineDedup, Some(q57Sql),
      "corpus boilerplate line removal: hashed-df hot set + narrow rebuild vs relational oracle (north star)"),
    Q("q234_leakage_split", q234LeakageSplit, Some(q234Sql),
      "leakage-safe split: near-dup components never straddle train/val/test, hash-assigned by group"),
    Q("q53_dup_clusters", q53DupClusters, Some(q53Sql),
      "near-dup clusters: star-contraction components vs recursive-closure oracle (north star)"),
    Q("q79_best_keeper", q79BestKeeper, Some(q79Sql),
      "quality-aware keeper per near-dup cluster: max_by agg vs closure+window oracle (north star)"),
    Q("q52_scrub", q52Scrub, Some(q52Sql),
      "PII/identifier scrubbing with audit counts (north star)"),
    Q("q51_repetition", q51Repetition, Some(q51Sql),
      "per-doc n-gram repetition signals via row-local count table (north star)"),
    Q("q50_stratified", q50Stratified, Some(q50Sql),
      "stratified corpus balancing by portable hash thresholds (north star)"),
    Q("q201_merge_purge", q201MergePurge, Some(q201Sql),
      "two-pass SNM + JW + connected components: the full merge/purge chain under one hash (north star)"),
    Q("q200_snm_jw", q200SnmJw, Some(q200Sql),
      "sorted-neighborhood reversed-key ER pass + JW scoring vs global-row_number oracle (north star)"),
    Q("q199_jw_join", q199JwJoin, Some(q199Sql),
      "jaroWinklerPairs operator end-to-end: oracle omits the length band, proving it lossless (north star)"),
    Q("q198_jaro_names", q198JaroNames, Some(q198Sql),
      "blocked Jaro-Winkler name matching: codegen kernel == DuckDB's score bit for bit (north star)"),
    Q("q196_temp_mixture", q196TempMixture, Some(q196Sql),
      "temperature (alpha=0.5) source-balancing shares with ordered-sum determinism (north star)"),
    Q("q80_epoch_mix", q80EpochMix, Some(q80Sql),
      "epoch-based mixture upsampling: row-local replication vs generate_series oracle (north star)"),
    Q("q83_head_sample", q83HeadSample, Some(q83Sql),
      "per-language top-third by quality: histogram plan vs window oracle (north star)"),
    Q("q84_normalize", q84Normalize, Some(q84Sql),
      "NFC+casefold+whitespace normalization: JDK vs ICU implementations under one hash (north star)"),
    Q("q85_ccnet_buckets", q85CcnetBuckets, Some(q85Sql),
      "CCNet head/middle/tail terciles by LM score: nested histogram cuts vs window oracle (north star)"),
    Q("q86_norm_decontam", q86NormalizedDecontam, Some(q86Sql),
      "normalization-aware cross-corpus decontamination: planted reformatted copies dropped (north star)"),
    Q("q87_soft_dedup", q87SoftDedup, Some(q87Sql),
      "soft dedup: 1/cluster_size weights instead of deletion, same closure oracle (north star)"),
    Q("q49_packing", q49Packing, Some(q49Sql),
      "greedy sequence packing vs recursive-CTE oracle (north star)"),
    Q("q48_tfidf", q48Tfidf, Some(q48Sql), "TF-IDF sparse vectors, flat form (north star)"),
    Q("q119_bm25_search", q119Bm25Search, Some(q119Sql),
      "BM25 top-k keyword retrieval, pinned expression tree vs relational oracle (north star)"),
    Q("q121_indexed_bm25", q121IndexedBm25, Some(q119Sql),
      "persisted inverted-index BM25 probe == q119 scan (north star)"),
    Q("q47_term_stats", q47TermStats, Some(q47Sql), "vocabulary tf/df statistics (north star)"),
    Q("q45_langid_script", q45LangIdScript, Some(q45Sql), "two-signal language ID (script + stopwords)"),
    Q("q55_contamination_bloom", q55ContaminationBloom, Some(q44Sql),
      "q44 via bloom prefilter: row-local codegen probe, exact after verification (north star)"),
    Q("q44_contamination", q44Contamination, Some(q44Sql), "benchmark n-gram containment scan (north star)"),
    Q("q43_split", q43Split, Some(q43Sql), "deterministic hash train/val/test split (north star)"),
    Q("q76_funnel", q76Funnel, Some(q76Sql),
      "per-stage curation funnel counts, one declarative frame (north star)"),
    Q("q74_token_budget", q74TokenBudget, Some(q74Sql),
      "per-source token-budget cap, prefix-histogram plan vs window-cumsum oracle (north star)"),
    Q("q94_weighted_sample", q94WeightedSample, Some(q94Sql),
      "RNG-free A-ES weighted sample without replacement, one TakeOrdered (north star)"),
    Q("q105_heavy_hitters", q105HeavyHitters, Some(q105Sql),
      "Misra-Gries summary at exact capacity == true count table (north star)"),
    Q("q75_shuffle_shards", q75ShuffleShards, Some(q75Sql),
      "deterministic corpus shuffle into training shards (north star)"),
    Q("q77_training_flow", q77TrainingFlow, Some(q77Sql),
      "curate -> token budget -> pack -> shard end to end, per-shard digest (north star)"),
    Q("q18_text_stats", q18TextStats, Some(q18Sql), "token counting (north star)"),
    Q("q237_sentence_stats", q237SentenceStats, Some(q237Sql),
      "sentence segmentation + per-doc sentence-shape quality stats (north star)"),
    Q("q241_readability", q241Readability, Some(q241Sql),
      "Flesch readability bands via cross-multiplied integer cuts (north star)"),
    Q("q242_homoglyph_dedup", q242HomoglyphDedup, Some(q242Sql),
      "homoglyph-skeleton dedup: confusables translate collapses the lookalike evasion (north star)"),
    Q("q243_corpus_health", q243CorpusHealth, Some(q243Sql),
      "per-language corpus health dashboard: readability mix + sentence flags + Gopher pass, one pass (north star)"),
    Q("q246_skeleton_decontam", q246SkeletonDecontam, Some(q246Sql),
      "evasion-resistant decontamination: skeleton digest catches homoglyph-corrupted benchmark plants (north star)"),
    Q("q19_quality", q19Quality, Some(q19Sql), "document quality scoring (north star)"),
    Q("q20_langid", q20LangId, Some(q20Sql), "language-ID heuristic (north star)"),
    Q("q21_exact_dedup", q21ExactDedup, Some(q21Sql), "exact dedup by digest (north star)"),
    Q("q22_fingerprint", q22Fingerprint, Some(q22Sql), "token-set fingerprint dedup (north star)"),
    Q("q23_ngram_jaccard", q23NgramJaccard, Some(q23Sql), "n-gram Jaccard similarity join (north star)"),
    Q("q24_minhash_pairs", q24Minhash, Some(q23Sql),
      "MinHash+LSH screen + exact verify, oracled against the relational all-pairs answer (north star)"),
    Q("q25_simhash_pairs", q25Simhash, None,
      "SimHash hamming pairs (rows-only: engine-hash-specific output; machinery oracled via q67)"),
    Q("q67_simhash_screen", q67SimhashScreen, Some(q23Sql),
      "SimHash-banded screen + exact verify, oracled against the relational all-pairs answer (north star)"),
    Q("q71_index_screen_recall", q71IndexScreenRecall, Some(q71Sql),
      "persisted MinHash index screen catches every true cross-source near-dup (north star)"),
    Q("q26_regex_extract", q26RegexExtract, Some(q26Sql), "regex extract + contains filter (F7/F8)"),
    Q("q27_cleanup", q27Cleanup, Some(q27Sql), "null-cleanup + casts (P3/P5/F13)"))
}
