package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{Frame, Raw}
import graft.engine.{Exprs => E}
import graft.ops.TextOps

/** LLM-pipeline text operators: tokenization and language models,
  * quality scoring and classifiers, sampling and mixing, chunking,
  * training-objective transforms, PII and policy filters. */
private[graft] object TextQueries {
  import Fixtures._

  /** Planted unigram piece vocabulary for q_unigram_encode, shared
    * verbatim between the Spark encode and the DuckDB Viterbi replay:
    * every character the corpus + planted docs use EXCEPT z/x (those
    * exercise `<unk>`), plus multi-char pieces engineering a whole-word
    * win ('scan' beats [sc,an]), and an exact tie on 'abcd'
    * ([ab,cd] = [abc,d] = −16M with equal token counts — the
    * lexicographic tie-break must pick [ab,cd] on BOTH engines). */
  private val unigramVocab: Seq[(String, Long)] =
    "abcdefghijklmnopqrstuvwy".map(c => c.toString -> -15000000L) ++ Seq(
      "sc" -> -10000000L, "an" -> -10000000L, "scan" -> -6000000L,
      "jo" -> -7000000L, "in" -> -7000000L,
      "the" -> -6000000L, "query" -> -6000000L, "er" -> -9000000L,
      "ab" -> -8000000L, "cd" -> -8000000L, "abc" -> -1000000L)

  /** DuckDB replay of [[graft.ops.TextOps.bpeMerges]]'s training loop,
    * unrolled to `n` explicit CTE stages (the loop count is a compile-time
    * constant of the registered query, so unrolling is exact, not an
    * approximation). Words are carried as separator-framed symbol strings
    * ` sym  sym ` because SQL `replace()` is
    * exactly the greedy left-to-right non-overlapping single-rule merge
    * the Scala fold implements: the DOUBLE separator between symbols lets
    * a match consume one trailing separator and still leave the next
    * occurrence matchable ("abab" under a+b must merge BOTH pairs), while
    * the frame prevents false matches where one symbol merely ends/starts
    * with the rule's characters ("xa","b" must NOT match a+b). Every CTE
    * is MATERIALIZED: each stage is referenced twice (pair counts + next
    * vocab), so un-materialized inlining would re-derive the whole prefix
    * chain exponentially. Verified bit-exact vs the Spark run at sf0.01. */
  private def bpeTrainCtes(n: Int): String = {
    val sb = new StringBuilder(
      """w AS MATERIALIZED (
        |  SELECT word, count(*) AS cnt FROM (
        |    SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
        |    FROM documents WHERE trim(coalesce(text, '')) <> '')
        |  WHERE word <> '' GROUP BY word),
        |v0 AS MATERIALIZED (
        |  SELECT chr(31) || array_to_string(string_split(word, ''),
        |    chr(31) || chr(31)) || chr(31) AS s, cnt FROM w)""".stripMargin)
    for (k <- 0 until n) sb ++= s""",
p$k AS MATERIALIZED (
  SELECT x.a[i] AS l, x.a[i + 1] AS r, CAST(sum(x.cnt) AS BIGINT) AS pair_count
  FROM (SELECT string_split(trim(s, chr(31)), chr(31) || chr(31)) AS a, cnt
        FROM v$k) AS x,
    unnest(generate_series(1, len(x.a) - 1)) AS t(i)
  GROUP BY 1, 2),
r${k + 1} AS MATERIALIZED (SELECT l, r, pair_count FROM p$k
  WHERE pair_count >= 2 ORDER BY pair_count DESC, l, r LIMIT 1),
v${k + 1} AS MATERIALIZED (
  SELECT replace(s,
      chr(31) || (SELECT l FROM r${k + 1}) || chr(31) || chr(31) || (SELECT r FROM r${k + 1}) || chr(31),
      chr(31) || (SELECT l FROM r${k + 1}) || (SELECT r FROM r${k + 1}) || chr(31)) AS s,
    cnt
  FROM v$k)"""
    sb.toString
  }

  /** DuckDB replay of [[graft.ops.Classifier]] training: `iters`
    * unrolled gradient-descent rounds (one CTE pair per round — micros
    * gradient sums, then the re-quantized weight row), followed by the
    * per-row scoring select. Mirrors the Scala expression trees
    * token-for-token: rational sigmoid, left-associated margin, 1e-6
    * quantization points. */
  private def qualityClassifierSql(iters: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH f AS (
  SELECT doc_id,
    CAST(least(n_chars, 2000) AS DOUBLE) / 2000.0 AS x1,
    CAST(least(len(ws), 400) AS DOUBLE) / 400.0 AS x2,
    CAST(len(list_filter(ws, w -> w IN ('the','a','and','of','to')))
      AS DOUBLE) / CAST(greatest(len(ws), 1) AS DOUBLE) AS x3,
    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
  FROM (SELECT doc_id, lang, n_chars,
        string_split_regex(trim(lower(text)), '\s+') AS ws
        FROM documents)),
c AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM f),
w0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)"""
    for (k <- 1 to iters) {
      sb ++= s""",
g$k AS (
  SELECT
    sum(CAST(round((sig - y) * 1.0 * 1000000.0, 0) AS BIGINT)) AS gb,
    sum(CAST(round((sig - y) * x1 * 1000000.0, 0) AS BIGINT)) AS ga,
    sum(CAST(round((sig - y) * x2 * 1000000.0, 0) AS BIGINT)) AS gc,
    sum(CAST(round((sig - y) * x3 * 1000000.0, 0) AS BIGINT)) AS gd
  FROM (
    SELECT y, x1, x2, x3, 0.5 + 0.5 * (z / (1.0 + abs(z))) AS sig
    FROM (SELECT f.*, ((b + w1 * x1) + w2 * x2) + w3 * x3 AS z
          FROM f CROSS JOIN w${k - 1}) zt) st),
w$k AS (
  SELECT
    round(b - 1.0 * ((CAST(gb AS DOUBLE) / 1000000.0) / n), 6) AS b,
    round(w1 - 1.0 * ((CAST(ga AS DOUBLE) / 1000000.0) / n), 6) AS w1,
    round(w2 - 1.0 * ((CAST(gc AS DOUBLE) / 1000000.0) / n), 6) AS w2,
    round(w3 - 1.0 * ((CAST(gd AS DOUBLE) / 1000000.0) / n), 6) AS w3
  FROM w${k - 1} CROSS JOIN g$k CROSS JOIN c)"""
    }
    sb ++= s"""
SELECT doc_id, round(0.5 + 0.5 * (z / (1.0 + abs(z))), 6) AS score,
  (round(0.5 + 0.5 * (z / (1.0 + abs(z))), 6) >= 0.5) AS pred
FROM (SELECT doc_id, ((b + w1 * x1) + w2 * x2) + w3 * x3 AS z
      FROM f CROSS JOIN w$iters) zt"""
    sb.toString
  }

  /** The learned-rules result set over [[bpeTrainCtes]]'s r1..rn. */
  private def bpeMergesSql(n: Int): String =
    "WITH " + bpeTrainCtes(n) + "\nSELECT * FROM (" +
      (1 to n).map(k =>
        s"""SELECT CAST($k AS BIGINT) AS merge_rank, l AS "left", r AS "right", pair_count FROM r$k""")
        .mkString("\nUNION ALL ") + ")"

  /** Training + encoding: replay the n learned rules over every word of
    * every document with the same framed-replace trick, then flatten to
    * the per-document token sequence. */
  /** Per-source fertility over the same replayed encoder as
    * [[bpeEncodeSql]]: exact integer char/token totals, one integer
    * division per source. */
  private def bpeFertilitySql(n: Int): String = {
    val replay = (1 to n).foldLeft(
      "chr(31) || array_to_string(string_split(w, ''), chr(31) || chr(31)) || chr(31)") {
      (e, k) =>
        s"replace($e, chr(31) || u.l$k || chr(31) || chr(31) || u.q$k || chr(31), " +
          s"chr(31) || u.l$k || u.q$k || chr(31))"
    }
    val ruleCols = (1 to n).map(k =>
      s"(SELECT l FROM r$k) AS l$k, (SELECT r FROM r$k) AS q$k").mkString(", ")
    "WITH " + bpeTrainCtes(n) + s""",
u AS MATERIALIZED (SELECT $ruleCols),
d AS (
  SELECT doc_id, source, n_chars,
    string_split_regex(trim(text), '\\s+') AS ws FROM documents),
e AS (
  SELECT d.doc_id, d.source, d.n_chars, flatten(list_transform(d.ws, w ->
    string_split(trim($replay, chr(31)), chr(31) || chr(31)))) AS toks
  FROM d, u)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
  CAST(sum(len(toks)) AS BIGINT) AS sum_tokens,
  (1000000 * CAST(sum(n_chars) AS BIGINT))
    // CAST(sum(len(toks)) AS BIGINT) AS chars_per_token_micros
FROM e GROUP BY source"""
  }

  /** DuckDB replay of the unigram Viterbi encode over the PLANTED
    * vocabulary: the DP unrolls as one chained CTE per code-point
    * position (d1..dMaxWordLen), each taking the per-word best of the
    * ≤ maxPieceLen piece-extension candidates plus the always-available
    * `<unk>` single-character candidate, ordered exactly as the
    * expression's comparator: summed integer score desc, token count
    * asc, then the chr(31)-joined token path asc (binary string order
    * on both engines — chr(31) sits below every printable byte, so
    * path order IS token-list order). The objective is integer-only,
    * so nothing float-ordered crosses the replay. */
  private def unigramEncodeSql(maxWordLen: Int, maxPieceLen: Int): String = {
    val vocabValues = unigramVocab
      .map { case (p, sc) => s"('$p', CAST($sc AS BIGINT))" }
      .mkString(", ")
    val stages = (1 to maxWordLen).map { i =>
      val cands = (1 to math.min(maxPieceLen, i)).map { l =>
        s"""    SELECT d.w, d.sc + v.s AS sc, d.nt + 1 AS nt,
           |      CASE WHEN d.path = '' THEN v.piece
           |        ELSE d.path || chr(31) || v.piece END AS path
           |    FROM d${i - l} d JOIN v
           |      ON substring(d.w, ${i - l + 1}, $l) = v.piece
           |    WHERE len(d.w) >= $i""".stripMargin
      } :+
        s"""    SELECT d.w, d.sc - 50000000 AS sc, d.nt + 1 AS nt,
           |      CASE WHEN d.path = '' THEN '<unk>'
           |        ELSE d.path || chr(31) || '<unk>' END AS path
           |    FROM d${i - 1} d WHERE len(d.w) >= $i""".stripMargin
      s"""d$i AS (
         |  SELECT w, sc, nt, path FROM (
         |${cands.mkString("\n    UNION ALL\n")}) c
         |  QUALIFY row_number() OVER (PARTITION BY w
         |    ORDER BY sc DESC, nt ASC, path ASC) = 1)""".stripMargin
    }.mkString(",\n")
    val finals = (1 to maxWordLen)
      .map(i => s"SELECT * FROM d$i WHERE len(w) = $i")
      .mkString(" UNION ALL ")
    s"""WITH docs2 AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE text IS NOT NULL AND trim(text) <> ''
       |  UNION ALL SELECT * FROM (VALUES
       |    (300001, 'scanjoin thequery zx'),
       |    (300002, 'abcd scan order'),
       |    (300003, 'customer merge vector tablesort')) t(doc_id, text)),
       |v(piece, s) AS (SELECT * FROM (VALUES $vocabValues)),
       |tok AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
       |  FROM docs2),
       |wq AS (SELECT DISTINCT unnest(ws) AS w FROM tok),
       |d0 AS (SELECT w, CAST(0 AS BIGINT) AS sc, 0 AS nt, '' AS path
       |  FROM wq),
       |$stages,
       |seg AS (
       |  SELECT w, nt, replace(path, chr(31), '|') AS tp
       |  FROM ($finals)),
       |wx AS (
       |  SELECT doc_id, u.i AS i, u.w AS w FROM (
       |    SELECT doc_id, unnest([{'i': i, 'w': ws[i]}
       |      FOR i IN generate_series(1, len(ws))]) AS u
       |    FROM tok)),
       |j AS (SELECT wx.doc_id, wx.i, s.tp, s.nt
       |  FROM wx JOIN seg s ON wx.w = s.w)
       |SELECT doc_id,
       |  string_agg(tp, '|' ORDER BY i) AS tokens_joined,
       |  CAST(sum(nt) AS BIGINT) AS n_tokens
       |FROM j GROUP BY doc_id""".stripMargin
  }

  private def bpeEncodeSql(n: Int): String = {
    val replay = (1 to n).foldLeft(
      "chr(31) || array_to_string(string_split(w, ''), chr(31) || chr(31)) || chr(31)") {
      (e, k) =>
        s"replace($e, chr(31) || u.l$k || chr(31) || chr(31) || u.q$k || chr(31), " +
          s"chr(31) || u.l$k || u.q$k || chr(31))"
    }
    val ruleCols = (1 to n).map(k =>
      s"(SELECT l FROM r$k) AS l$k, (SELECT r FROM r$k) AS q$k").mkString(", ")
    "WITH " + bpeTrainCtes(n) + s""",
u AS MATERIALIZED (SELECT $ruleCols),
d AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents),
e AS (
  SELECT d.doc_id, flatten(list_transform(d.ws, w ->
    string_split(trim($replay, chr(31)), chr(31) || chr(31)))) AS toks
  FROM d, u)
SELECT doc_id, array_to_string(toks, '|') AS tokens_joined,
  CAST(len(toks) AS BIGINT) AS n_tokens
FROM e"""
  }

  val specs: Seq[QuerySpec] = Seq(
    // ---- extension: deterministic training-order shuffle --------------
    // every document gets a reproducible epoch position from md5(id, seed)
    // — same permutation on any engine, any retry (ops/Sampling
    // .shuffleDeterministic); the oracle recomputes it as a row_number
    // over the same md5 ordering
    QuerySpec("q_corpus_shuffle", (s, dir) =>
      graft.ops.Sampling.shuffleDeterministic(
          t(s, dir, "documents").select(col("doc_id")), "doc_id", seed = 42L)
        .select(col("doc_id"), col("shuffle_pos")),
      """SELECT doc_id,
        |  row_number() OVER (ORDER BY md5(doc_id::VARCHAR || ':42'), doc_id) - 1
        |    AS shuffle_pos
        |FROM documents""".stripMargin),

    // ---- LLM: weighted sampling (Efraimidis–Spirakis priorities) ------
    // longer documents win proportionally more often; the md5-derived
    // uniform, the priority formula and the 9-dp rounding are mirrored
    // in SQL, and the id tie-break makes the top-k a total order
    QuerySpec("q_weighted_sample", (s, dir) =>
      graft.ops.Sampling.weightedSample(t(s, dir, "documents"),
          "text", "doc_id", length(col("text")), k = 50)
        .select(col("doc_id"), col("priority")),
      """WITH p AS (
        |  SELECT doc_id,
        |    round(pow((CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT)
        |        + 1.0) / 4294967297.0,
        |      1.0 / length(text)), 9) AS priority
        |  FROM documents)
        |SELECT doc_id, priority FROM p
        |ORDER BY priority DESC, doc_id LIMIT 50""".stripMargin),

    // ---- LLM: per-source weighted sampling (stratified selection) -----
    QuerySpec("q_weighted_by_source", (s, dir) =>
      graft.ops.Sampling.weightedSampleByGroup(t(s, dir, "documents"),
          "text", "doc_id", "source", length(col("text")), k = 10)
        .select(col("source"), col("doc_id"), col("priority")),
      """WITH p AS (
        |  SELECT source, doc_id,
        |    round(pow((CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT)
        |        + 1.0) / 4294967297.0,
        |      1.0 / length(text)), 9) AS priority
        |  FROM documents),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY priority DESC, doc_id) AS pick
        |  FROM p)
        |SELECT source, doc_id, priority FROM r WHERE pick <= 10""".stripMargin),

    // ---- LLM: stable content-keyed train/test split -------------------
    QuerySpec("q_stable_split", (s, dir) =>
      graft.ops.Sampling.stableSplit(t(s, dir, "documents"), "text", 80)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars")),
      """WITH b AS (
        |  SELECT n_chars,
        |    CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT) % 100 AS bkt
        |  FROM documents)
        |SELECT CASE WHEN bkt < 80 THEN 'train' ELSE 'test' END AS split,
        |  count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM b GROUP BY 1""".stripMargin),

    // ---- LLM: stratified sampling (per-source mixing weights) ---------
    QuerySpec("q_stratified", (s, dir) =>
      graft.ops.Sampling.stratifiedSample(t(s, dir, "documents"),
          "source", "text",
          Map("src0" -> 0, "src1" -> 25, "src2" -> 50), defaultPct = 100)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars")),
      """WITH b AS (
        |  SELECT source, n_chars,
        |    CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT) % 100 AS bkt,
        |    CASE source WHEN 'src0' THEN 0 WHEN 'src1' THEN 25
        |                WHEN 'src2' THEN 50 ELSE 100 END AS pct
        |  FROM documents)
        |SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM b WHERE bkt < pct GROUP BY source""".stripMargin),

    // ---- LLM: per-source quantile curation (keep each source's top
    // half by length) — percent_rank over a tie-free order, the
    // distribution-aware cut that absolute thresholds can't express
    QuerySpec("q_quality_quantile", (s, dir) =>
      Frame(t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("n_chars")))
        .window(Seq(E.col("source")),
          Seq((E.col("n_chars"), true), (E.col("doc_id"), true)),
          Seq(("percent_rank", E.lit(1), "pr")))
        .filter(Raw(col("pr") >= 0.5, "top half"))
        .project(E.col("doc_id"), E.col("source"), E.col("n_chars")).df,
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    percent_rank() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS pr
        |  FROM documents) WHERE pr >= 0.5""".stripMargin),

    // ---- LLM: source-weighted mixture to a token budget ---------------
    // 40k-char budget at 50/25/12.5/12.5 over four sources: src0 upsamples
    // to ~2.5 epochs, src2/src3 downsample to ~0.65, the rest drop out
    QuerySpec("q_mixture", (s, dir) =>
      Frame(t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("n_chars")))
        .mixtureToBudget("source", "doc_id", "n_chars",
          Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.125,
            "src3" -> 0.125),
          budgetTokens = 40000L).df,
      // weights sum to exactly 1.0 in double, so the engine's w/Σw and this
      // literal wt agree bit-for-bit; per-row double math is cross-engine
      // exact (see the dsum note)
      """WITH w(source, wt) AS (VALUES
        |  ('src0', 0.5), ('src1', 0.25), ('src2', 0.125), ('src3', 0.125)),
        |tot AS (SELECT source, sum(n_chars) AS t FROM documents
        |        GROUP BY source),
        |f AS (SELECT tot.source,
        |        CAST(40000 AS DOUBLE) * CAST(wt AS DOUBLE)
        |          / CAST(t AS DOUBLE) AS f
        |      FROM tot JOIN w USING (source))
        |SELECT doc_id, source, n_chars, n_copies FROM (
        |  SELECT d.doc_id, d.source, d.n_chars,
        |    CAST(floor(f) + CASE WHEN
        |      CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)
        |        || ':mix'), 1, 8) AS BIGINT) % 10000
        |        < (f - floor(f)) * 10000 THEN 1 ELSE 0 END AS BIGINT)
        |      AS n_copies
        |  FROM documents d JOIN f USING (source))
        |WHERE n_copies > 0""".stripMargin),

    // ---- LLM: tokenizer fertility report (chars per token by source) --
    // the metric a tokenizer release ships with: how many characters
    // one token buys, per corpus source — high fertility on a source
    // means the vocabulary serves it poorly (more tokens per text,
    // higher training cost). Encode with the 8-merge BPE, aggregate
    // exact integers, one integer division per source; the oracle
    // replays training AND encoding in SQL and aggregates identically
    QuerySpec("q_bpe_fertility", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = TextOps.bpeMerges(docs, numMerges = 8)
        .orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.Graft.init(s)
      TextOps.bpeEncodeFast(docs, merges)
        .join(docs.select(col("doc_id"), col("source"), col("n_chars")),
          Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          sum(col("n_tokens")).cast("long").as("sum_tokens"))
        .withColumn("chars_per_token_micros",
          expr("(1000000 * sum_chars) div sum_tokens"))
    }, bpeFertilitySql(8)),

    // ---- LLM: preference-pair bootstrap (DPO data from heuristics) ----
    // within each source, pair the i-th most stopword-fluent doc with
    // the i-th least (exact integer score: 1e6 * |stopwords ∩ distinct
    // words| div |distinct words|), halves never overlapping, zero-gap
    // pairs dropped (Sampling.preferencePairs)
    QuerySpec("q_preference_pairs", (s, dir) => {
      val allStop = lit(TextOps.stopwords.values.flatten.toArray.distinct)
      val dw = array_distinct(TextOps.words(col("text")))
      val score = expr("1000000 * nInter div nDw")
      val scored = t(s, dir, "documents")
        .withColumn("nInter", size(array_intersect(dw, allStop)).cast("long"))
        .withColumn("nDw", greatest(size(dw), lit(1)).cast("long"))
        .select(col("source"), col("doc_id"), score.as("score_micros"))
      graft.ops.Sampling.preferencePairs(scored, "source", "doc_id",
        "score_micros", k = 3)
    },
      // same integer score and windows; halves capped at n div 2, equal
      // scores dropped
      """WITH w AS (
        |  SELECT doc_id, source,
        |    list_distinct(string_split_regex(trim(text), '\s+')) AS dw
        |  FROM documents),
        |s AS (SELECT doc_id, source,
        |  1000000 * CAST(len(list_intersect(dw, ['the','of','and','to','in','is','it','you','that','was','for','on','are','with','as','at','this','der','die','das','und','ist','ich','nicht','mit','ein','eine','zu','den','von','sie','auch','le','la','les','de','et','un','une','est','pour','que','dans','qui','pas','sur','avec','el','los','las','y','una','es','por','en','no','se','del','con','的','是','不','了','在','人','有','我','他','这'])) AS BIGINT)
        |    // CAST(greatest(len(dw), 1) AS BIGINT) AS score_micros
        |  FROM w),
        |r AS (SELECT *,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY score_micros DESC, doc_id) AS rb,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY score_micros ASC, doc_id DESC) AS rw,
        |  count(*) OVER (PARTITION BY source) // 2 AS half
        |  FROM s)
        |SELECT b.source, CAST(b.rb AS INT) AS pair_rank,
        |  b.doc_id AS chosen_id, b.score_micros AS chosen_score,
        |  q.doc_id AS rejected_id, q.score_micros AS rejected_score
        |FROM (SELECT * FROM r WHERE rb <= 3 AND rb <= half) b
        |JOIN (SELECT * FROM r WHERE rw <= 3 AND rw <= half) q
        |  ON b.source = q.source AND b.rb = q.rw
        |WHERE b.score_micros > q.score_micros""".stripMargin),

    // ---- LLM: NSP pair construction (BERT preprocessing, with MLM) ----
    // positives = adjacent in-doc sentence pairs (per-row, no join);
    // negatives = last sentence vs the id+1 doc's first sentence — a
    // deterministic KEYED cross-document pick (a "random doc" would
    // need a single-partition global index or RNG state; refused).
    // Planted multi-sentence docs guarantee positives exist
    QuerySpec("q_nsp_pairs", (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (1000001L, "First things first. Then the middle part. Finally the end."),
        (1000002L, "Lead sentence here. Trailing sentence there."))
        .toDF("doc_id", "text")
      TextOps.nspPairs(t(s, dir, "documents")
        .select(col("doc_id"), col("text")).unionByName(planted))
    },
      // sentence replay + the same adjacent/neighbor constructions
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT * FROM (VALUES
        |    (CAST(1000001 AS BIGINT),
        |     'First things first. Then the middle part. Finally the end.'),
        |    (1000002, 'Lead sentence here. Trailing sentence there.'))
        |    AS t(doc_id, text)),
        |p AS (SELECT doc_id, regexp_replace(text,
        |  '(Mr|Mrs|Ms|Dr|Prof|St|vs|etc|e\.g|i\.e|No)\.',
        |  '\1' || chr(1), 'g') AS pt FROM d),
        |sp AS (SELECT doc_id, list_filter(list_transform(
        |    string_split_regex(pt, '[.!?]+(\s+|$)'),
        |    s -> trim(replace(s, chr(1), '.'))), s -> s <> '') AS sents
        |  FROM p),
        |nz AS (SELECT doc_id, sents FROM sp WHERE len(sents) > 0),
        |pos AS (SELECT doc_id, unnest(
        |    [{'pid': i - 1, 'a': sents[i], 'b': sents[i + 1]}
        |     FOR i IN generate_series(1, len(sents) - 1)]) AS u
        |  FROM nz WHERE len(sents) >= 2)
        |SELECT doc_id, CAST(u.pid AS INT) AS pair_id, u.a AS sent_a,
        |  u.b AS sent_b, true AS is_next FROM pos
        |UNION ALL
        |SELECT a.doc_id, CAST(-1 AS INT), a.sents[len(a.sents)],
        |  b.sents[1], false
        |FROM nz a JOIN nz b ON b.doc_id = a.doc_id + 1""".stripMargin),

    // ---- LLM: FIM transform (fill-in-the-middle, PSM order) -----------
    // the code-model preprocessing: deterministic cut points from two
    // md5 draws, <PRE> prefix <SUF> suffix <MID> middle serialization;
    // docs under 3 tokens pass through (TextOps.fimTransform)
    QuerySpec("q_fim_transform", (s, dir) =>
      TextOps.fimTransform(t(s, dir, "documents")),
      // same two draws, order-normalized; inclusive list slices with the
      // empty-slice coalesce (DuckDB NULL-on-empty join seam)
      """WITH tk AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(coalesce(text, '')) = '' THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(text), '\s+') END AS tk
        |  FROM documents),
        |x AS (SELECT doc_id, tk, len(tk) AS n,
        |  CAST((('0x' || substring(md5(doc_id || ':fim1'), 1, 8))::BIGINT
        |    % (len(tk) + 1)) AS INT) AS a,
        |  CAST((('0x' || substring(md5(doc_id || ':fim2'), 1, 8))::BIGINT
        |    % (len(tk) + 1)) AS INT) AS b
        |  FROM tk),
        |y AS (SELECT doc_id, tk, n,
        |    least(a, b) AS c1, greatest(a, b) AS c2 FROM x)
        |SELECT doc_id, CAST(n AS INT) AS n_tokens,
        |  n >= 3 AS fim_applied,
        |  CASE WHEN n < 3 THEN coalesce(array_to_string(tk, ' '), '')
        |  ELSE concat_ws(' ', '<PRE>',
        |    coalesce(array_to_string(tk[1:c1], ' '), ''),
        |    '<SUF>', coalesce(array_to_string(tk[c2+1:n], ' '), ''),
        |    '<MID>', coalesce(array_to_string(tk[c1+1:c2], ' '), ''))
        |  END AS fim_joined
        |FROM y""".stripMargin),

    // ---- LLM: BERT-style MLM masking (80/10/10) -----------------------
    // the masked-LM sibling of q_span_corrupt: select 15% of positions,
    // 80% -> [MASK], 10% -> random top-1000 vocab token, 10% unchanged;
    // labels carry the originals. Three independent md5 draws keyed on
    // (doc, position, role) make every choice replayable
    QuerySpec("q_mlm_mask", (s, dir) =>
      TextOps.mlmMask(t(s, dir, "documents"), "doc_id", "text",
        selectPermille = 150, vocabSize = 1000),
      // vocabulary replay (top-1000 by (tf desc, token), then lexsorted
      // array) + the same three per-position draws
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |top AS (SELECT token FROM (
        |    SELECT token, count(*) AS tf FROM tok GROUP BY token)
        |  ORDER BY tf DESC, token LIMIT 1000),
        |va AS (SELECT list_sort(list(token)) AS va FROM top),
        |tk AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(coalesce(text, '')) = '' THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(lower(text)), '\s+') END AS tk
        |  FROM documents),
        |x AS (SELECT doc_id, tk, len(tk) AS n, va FROM tk CROSS JOIN va),
        |y AS (SELECT doc_id, tk, n, va,
        |  [ (('0x' || substring(md5(doc_id || ':' || CAST(i - 1 AS VARCHAR)
        |      || ':m'), 1, 8))::BIGINT % 1000) < 150
        |    FOR i IN generate_series(1, n) ] AS sel
        |  FROM x)
        |SELECT doc_id, CAST(n AS INT) AS n_tokens,
        |  CAST(len(list_filter(sel, v -> v)) AS INT) AS n_selected,
        |  coalesce(array_to_string(
        |    [ CASE WHEN NOT sel[i] THEN tk[i]
        |        WHEN (('0x' || substring(md5(doc_id || ':'
        |            || CAST(i - 1 AS VARCHAR) || ':r'), 1, 8))::BIGINT % 10)
        |          <= 7 THEN '[MASK]'
        |        WHEN (('0x' || substring(md5(doc_id || ':'
        |            || CAST(i - 1 AS VARCHAR) || ':r'), 1, 8))::BIGINT % 10)
        |          = 8 THEN va[CAST((('0x' || substring(md5(doc_id || ':'
        |            || CAST(i - 1 AS VARCHAR) || ':v'), 1, 8))::BIGINT
        |            % len(va)) AS INT) + 1]
        |        ELSE tk[i] END
        |      FOR i IN generate_series(1, n) ], ' '), '') AS masked_joined,
        |  coalesce(array_to_string(
        |    [ tk[i] FOR i IN generate_series(1, n) IF sel[i] ], ' '), '')
        |    AS labels_joined
        |FROM y""".stripMargin),

    // ---- LLM: T5-style span corruption (denoising preprocessing) ------
    // deterministic position masking (md5 draw per (doc, position)),
    // adjacent masks merge to spans, exact T5 serialization:
    // input replaces spans with <extra_id_K>, target lists each
    // sentinel plus its hidden tokens (TextOps.spanCorrupt); the
    // oracle replays the definition with order-free prefix counts
    QuerySpec("q_span_corrupt", (s, dir) =>
      TextOps.spanCorrupt(t(s, dir, "documents"),
        "doc_id", "text", maskPermille = 150),
      // same masking definition, span ids via prefix run-start counts
      // (order-free — no fold needed relationally)
      """WITH tk AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(coalesce(text, '')) = '' THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(text), '\s+') END AS tk
        |  FROM documents),
        |m AS (SELECT doc_id, tk, len(tk) AS n,
        |  [ (('0x' || substring(md5(doc_id || ':' || CAST(i - 1 AS VARCHAR)),
        |      1, 8))::BIGINT % 1000) < 150
        |    FOR i IN generate_series(1, len(tk)) ] AS mk
        |  FROM tk),
        |ids AS (SELECT doc_id, tk, n, mk,
        |  [ CASE WHEN mk[i]
        |      THEN len(list_filter(generate_series(1, i),
        |             j -> mk[j] AND (j = 1 OR NOT mk[j - 1]))) - 1
        |      ELSE -1 END
        |    FOR i IN generate_series(1, n) ] AS ids
        |  FROM m),
        |fin AS (SELECT doc_id, tk, n, ids,
        |    coalesce(list_max(ids) + 1, 0) AS ns FROM ids)
        |SELECT doc_id, CAST(n AS INT) AS n_tokens,
        |  CAST(len(list_filter(ids, c -> c >= 0)) AS INT) AS n_masked,
        |  CAST(greatest(ns, 0) AS INT) AS n_spans,
        |  coalesce(array_to_string(list_filter(
        |    [ CASE WHEN ids[i] >= 0 AND (i = 1 OR ids[i - 1] <> ids[i])
        |        THEN '<extra_id_' || ids[i] || '>'
        |        WHEN ids[i] < 0 THEN tk[i] END
        |      FOR i IN generate_series(1, n) ], s -> s IS NOT NULL), ' '),
        |    '') AS input_joined,
        |  CASE WHEN ns <= 0 THEN '' ELSE array_to_string(
        |    [ '<extra_id_' || k || '> ' || array_to_string(
        |        [ tk[i] FOR i IN generate_series(1, n) IF ids[i] = k ], ' ')
        |      FOR k IN generate_series(0, ns - 1) ], ' ') END
        |    AS target_joined
        |FROM fin""".stripMargin),

    // ---- LLM: sentence-aware chunking (the RAG chunker proper) --------
    // greedy-fill sentences into <=24-token chunks, never splitting a
    // sentence; planted multi-sentence docs exercise the boundary math
    // while the whole corpus rides along. The oracle replays sentence
    // split AND the greedy fold (struct-accumulator list_reduce with
    // the list_prepend seed trick) — TextOps.chunkBySentences
    QuerySpec("q_chunk_sentences", (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (1000001L, "S1 a b c. S2 d e f. S3 g h. S4 i."),
        (1000002L, "Tiny. Also tiny."),
        (1000003L, "One very long single sentence that cannot be split " +
          "even though it blows straight through the token budget " +
          "because sentence integrity outranks the cap. Short tail."))
        .toDF("doc_id", "text")
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text")).unionByName(planted)
      TextOps.chunkBySentences(docs, "doc_id", "text", maxTokens = 24)
    },
      // sentence split replay + the same greedy fold as a RECURSIVE CTE
      // over the sentence index (one assignment row per sentence — a
      // struct-with-list accumulator through list_reduce silently drops
      // the list in DuckDB 1.0, so the fold is unrolled relationally);
      // per-chunk assembly is a grouped string_agg in sentence order
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT * FROM (VALUES
        |    (CAST(1000001 AS BIGINT), 'S1 a b c. S2 d e f. S3 g h. S4 i.'),
        |    (1000002, 'Tiny. Also tiny.'),
        |    (1000003, 'One very long single sentence that cannot be split even though it blows straight through the token budget because sentence integrity outranks the cap. Short tail.'))
        |    AS t(doc_id, text)),
        |p AS (SELECT doc_id, regexp_replace(text,
        |  '(Mr|Mrs|Ms|Dr|Prof|St|vs|etc|e\.g|i\.e|No)\.',
        |  '\1' || chr(1), 'g') AS pt FROM d),
        |sp AS (SELECT doc_id, list_filter(list_transform(
        |    string_split_regex(pt, '[.!?]+(\s+|$)'),
        |    s -> trim(replace(s, chr(1), '.'))), s -> s <> '') AS sents
        |  FROM p),
        |tc AS (SELECT doc_id, sents, list_transform(sents,
        |    s -> CASE WHEN trim(s) = '' THEN 0
        |              ELSE len(string_split_regex(trim(s), '\s+')) END)
        |    AS counts
        |  FROM sp WHERE len(sents) > 0),
        |r AS (
        |  SELECT doc_id, 1 AS i, 0 AS idx, counts[1] AS used FROM tc
        |  UNION ALL
        |  SELECT r.doc_id, r.i + 1,
        |    CASE WHEN r.used + tc.counts[r.i + 1] > 24 AND r.used > 0
        |         THEN r.idx + 1 ELSE r.idx END,
        |    CASE WHEN r.used + tc.counts[r.i + 1] > 24 AND r.used > 0
        |         THEN tc.counts[r.i + 1]
        |         ELSE r.used + tc.counts[r.i + 1] END
        |  FROM r JOIN tc USING (doc_id) WHERE r.i < len(tc.counts))
        |SELECT r.doc_id, CAST(r.idx AS INT) AS chunk_id,
        |  CAST(count(*) AS INT) AS n_sentences,
        |  CAST(sum(tc.counts[r.i]) AS INT) AS n_tokens,
        |  string_agg(tc.sents[r.i], '|' ORDER BY r.i) AS chunk_joined
        |FROM r JOIN tc USING (doc_id)
        |GROUP BY r.doc_id, r.idx""".stripMargin),

    // ---- LLM: sentence segmentation (RAG/chunking pre-step) -----------
    // protect-split-restore (no lookbehind — RE2, the oracle's regex
    // subset, has none): abbreviation periods are shielded, the text
    // splits on terminator runs, placeholders restore. Planted cases
    // exercise abbreviations, terminator runs, and the no-terminator
    // doc; the whole corpus rides along (TextOps.sentences)
    QuerySpec("q_sentence_split", (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (1000001L, "Dr. Smith went home. Then he slept! Did he? Yes."),
        (1000002L, "One sentence with no terminator"),
        (1000003L, "e.g. this stays whole. But this is new."),
        (1000004L, "Multiple!!! Terminators?? One. Two."))
        .toDF("doc_id", "text")
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text")).unionByName(planted)
      val sents = TextOps.sentences(col("text"))
      docs.select(col("doc_id"), size(sents).as("n_sentences"),
        array_join(sents, "|").as("sentences_joined"))
    },
      // same protect-split-restore chain in RE2: group shield via \1 ||
      // chr(1), terminator-run split, placeholder restore, empty filter
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT * FROM (VALUES
        |    (CAST(1000001 AS BIGINT),
        |     'Dr. Smith went home. Then he slept! Did he? Yes.'),
        |    (1000002, 'One sentence with no terminator'),
        |    (1000003, 'e.g. this stays whole. But this is new.'),
        |    (1000004, 'Multiple!!! Terminators?? One. Two.'))
        |    AS t(doc_id, text)),
        |p AS (SELECT doc_id, regexp_replace(text,
        |  '(Mr|Mrs|Ms|Dr|Prof|St|vs|etc|e\.g|i\.e|No)\.',
        |  '\1' || chr(1), 'g') AS pt FROM d),
        |sp AS (SELECT doc_id, list_filter(list_transform(
        |    string_split_regex(pt, '[.!?]+(\s+|$)'),
        |    s -> trim(replace(s, chr(1), '.'))), s -> s <> '') AS sents
        |  FROM p)
        |SELECT doc_id, CAST(len(sents) AS INT) AS n_sentences,
        |  coalesce(array_to_string(sents, '|'), '') AS sentences_joined
        |FROM sp""".stripMargin),

    // ---- LLM: trainer-facing sharded export with verifiable manifest --
    // the "pack and ship" step: md5-bucket shard assignment plus an
    // order-free exact digest per shard that any engine can recompute
    // to prove it holds the same rows — no reliance on parquet bytes
    // (never byte-stable). The oracle recomputes the whole manifest
    QuerySpec("q_export_shards", (s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-export-q").toString
      graft.ops.Layout.exportShards(
        t(s, dir, "documents"), tmp, "doc_id", nShards = 8)
    },
      // recomputes shard assignment and the order-free two-limb digest
      // sums from the same md5 prefixes — parquet bytes never enter the
      // contract, and the limbs stay plain BIGINT (no HUGEINT/DECIMAL)
      """WITH d AS (
        |  SELECT CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
        |    1, 12))::BIGINT AS BIGINT) AS dg
        |  FROM documents)
        |SELECT dg % 8 AS shard, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(dg // 16777216) AS BIGINT) AS digest_hi,
        |  CAST(sum(dg % 16777216) AS BIGINT) AS digest_lo
        |FROM d GROUP BY 1""".stripMargin),

    // ---- LLM: encoding-damage repair (UTF-8-as-Latin-1 mojibake) ------
    // the classic web-corpus cleaning pass: re-encode/decode reverses
    // the damage exactly, guarded so it only fires when provably right
    // (Latin-1 range + marker + valid-UTF-8 roundtrip that shortens).
    // Planted cases cover repair, pass-through, invalid-marker, and
    // out-of-range texts; the oracle lists the expected outputs from
    // the construction (TextOps.fixMojibake)
    QuerySpec("q_mojibake", (s, dir) => {
      import s.implicits._
      val cases = Seq(
        (1L, "caf\u00c3\u00a9 corner"),            // cafAY -> cafe
        (2L, "plain ascii text"),                   // untouched
        (3L, "a\u00e2\u0080\u0099s quote"),        // a's curly quote
        (4L, "x \u00c3"),                           // invalid UTF-8: untouched
        (5L, "\u65e5\u672c \u00c3\u00a9"))         // CJK present: untouched
        .toDF("case_id", "text")
      cases.select(col("case_id"),
        TextOps.fixMojibake(col("text")).as("fixed"))
    },
      // expected outputs from the plant's construction: chr() codepoints
      // keep the oracle ASCII-clean
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'caf' || chr(233) || ' corner'),
        |  (2, 'plain ascii text'),
        |  (3, 'a' || chr(8217) || 's quote'),
        |  (4, 'x ' || chr(195)),
        |  (5, chr(26085) || chr(26412) || ' ' || chr(195) || chr(169))
        |) AS t(case_id, fixed)""".stripMargin),

    // ---- LLM: corpus data card (per-source release manifest) ----------
    // the summary table a corpus release ships with: per source, doc and
    // token counts, char volume, dominant language (deterministic
    // (count, lang) argmax), and corpus share in exact micros — one
    // grouped aggregation plus a 1-row totals attach
    QuerySpec("q_data_card", (s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("__nt", TextOps.nTokens(col("text")))
      val per = d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__nt")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"))
      val perLang = d.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("c"))
      val topLang = perLang
        .withColumn("__rn", row_number().over(Window
          .partitionBy(col("source"))
          .orderBy(col("c").desc, col("lang"))))
        .where(col("__rn") === 1)
        .select(col("source"), col("lang").as("top_lang"))
      per.join(topLang, Seq("source"))
        .crossJoin(broadcast(d.agg(count(lit(1)).as("__tot"))))
        .withColumn("share_micros", expr("(1000000L * n_docs) div __tot"))
        .drop("__tot")
    },
      // mirrors q_data_card: nTokens' empty-doc-is-zero convention, the
      // (count desc, lang) dominant-language total order, micros share
      """WITH d AS (
        |  SELECT source, lang, n_chars,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END
        |      AS n_tokens
        |  FROM documents),
        |per AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |    CAST(sum(n_chars) AS BIGINT) AS n_chars
        |  FROM d GROUP BY 1),
        |pl AS (SELECT source, lang, count(*) AS c FROM d GROUP BY 1, 2),
        |tl AS (
        |  SELECT source, lang AS top_lang FROM (
        |    SELECT source, lang, row_number() OVER (PARTITION BY source
        |      ORDER BY c DESC, lang) AS rn FROM pl)
        |  WHERE rn = 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM d)
        |SELECT per.source, per.n_docs, per.n_tokens, per.n_chars,
        |  tl.top_lang, (1000000 * per.n_docs) // tot.t AS share_micros
        |FROM per JOIN tl USING (source) CROSS JOIN tot""".stripMargin),

    // ---- LLM: ingestion rate limiting (max N docs per source-hour) ----
    // deterministic throttle: within each (source, hour) cell keep the
    // first N docs by (doc_id) total order — the crawler backpressure
    // rule stated as a window, reproducible on any engine. Fixture docs
    // have no timestamps, so the hour derives from doc_id (stated in
    // the oracle identically); caps bind naturally at sf0.01
    QuerySpec("q_rate_limit", (s, dir) =>
      t(s, dir, "documents")
        .withColumn("hour", (col("doc_id") % 7).cast("long"))
        .withColumn("__rn", row_number().over(Window
          .partitionBy(col("source"), col("hour"))
          .orderBy(col("doc_id"))))
        .where(col("__rn") <= 2)
        .select(col("source"), col("hour"), col("doc_id")),
      // mirrors q_rate_limit's window cap on the same derived hour
      """SELECT source, hour, doc_id FROM (
        |  SELECT source, doc_id % 7 AS hour, doc_id,
        |    row_number() OVER (PARTITION BY source, doc_id % 7
        |      ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 2""".stripMargin),

    // ---- LLM: token counting ------------------------------------------
    QuerySpec("q_text_stats", (s, dir) =>
      TextOps.tokenCounts(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens_ws"), col("n_tokens_re")),
      """SELECT doc_id,
        |  (length(text) - length(replace(text, ' ', ''))) + 1 AS n_tokens_ws,
        |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_tokens_re
        |FROM documents""".stripMargin),

    // ---- LLM: overlapping token-window chunking -----------------------
    QuerySpec("q_chunk_docs", (s, dir) =>
      TextOps.chunkDocs(t(s, dir, "documents").where(col("doc_id") < 100),
          "doc_id", "text", chunkSize = 20, overlap = 5)
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          col("chunk_text"), col("n_tokens").cast("long").as("n_tokens")),
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |  FROM documents WHERE doc_id < 100),
        |c AS (
        |  SELECT doc_id, len(ws) AS n,
        |    unnest([{'cid': i,
        |             'txt': array_to_string(ws[i*15+1 : i*15+20], ' ')}
        |            for i in range(0, (greatest(len(ws) - 6, 0) // 15) + 1)]) AS u
        |  FROM w)
        |SELECT doc_id, u['cid'] AS chunk_id, u['txt'] AS chunk_text,
        |  CASE WHEN u['txt'] = '' THEN 0
        |       ELSE least(20, n - u['cid'] * 15) END AS n_tokens
        |FROM c""".stripMargin),

    // ---- LLM: per-shard greedy sequence packing -----------------------
    QuerySpec("q_pack_sequences", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("n_tokens", TextOps.nTokens(col("text")))
      TextOps.packSequences(docs, "doc_id", "n_tokens", "source",
          capacity = 512)
        .groupBy(col("source"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"))
    }, """WITH w AS (
        |  SELECT doc_id, source,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
        |  FROM documents),
        |p AS (
        |  SELECT source, doc_id, n_tokens,
        |    CAST(floor((sum(n_tokens) OVER (PARTITION BY source
        |        ORDER BY doc_id, n_tokens
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - n_tokens) / 512) AS BIGINT) AS pack_id
        |  FROM w)
        |SELECT source, pack_id, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |FROM p GROUP BY source, pack_id""".stripMargin),

    // ---- LLM: quality scoring -----------------------------------------
    QuerySpec("q_quality", (s, dir) =>
      TextOps.qualitySignals(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("mean_word_len"),
          col("punct_ratio"), col("stopword_ratio"), col("quality_ok")),
      """WITH w AS (
        |  SELECT doc_id, length(text) AS n_chars,
        |    string_split_regex(trim(text), '\s+') AS ws,
        |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct
        |  FROM documents)
        |SELECT doc_id,
        |  len(ws) AS n_tokens,
        |  (n_chars - (len(ws) - 1)) * 1.0 / greatest(len(ws), 1) AS mean_word_len,
        |  punct * 1.0 / greatest(n_chars, 1) AS punct_ratio,
        |  len(list_intersect(list_distinct(ws), ['the','of','and','to','in','is','it','you','that','was','for','on','are','with','as','at','this','der','die','das','und','ist','ich','nicht','mit','ein','eine','zu','den','von','sie','auch','le','la','les','de','et','un','une','est','pour','que','dans','qui','pas','sur','avec','el','los','las','y','una','es','por','en','no','se','del','con','的','是','不','了','在','人','有','我','他','这'])) * 1.0
        |    / greatest(len(list_distinct(ws)), 1) AS stopword_ratio,
        |  len(ws) >= 5 AND len(ws) <= 100000
        |    AND (n_chars - (len(ws) - 1)) * 1.0 / greatest(len(ws), 1) >= 2
        |    AND (n_chars - (len(ws) - 1)) * 1.0 / greatest(len(ws), 1) <= 20 AS quality_ok
        |FROM w""".stripMargin),

    // ---- LLM: intra-doc repetition (duplicate 3-gram fraction) --------
    QuerySpec("q_repetition", (s, dir) =>
      TextOps.repetitionSignals(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_grams").cast("long").as("n_grams"),
          round(col("dup_gram_frac"), 6).as("dup_gram_frac")),
      // 3-gram construction mirrors TextOps.wordShingles (see q_decontam)
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ws) - 2 <= 0 THEN [array_to_string(ws, ' ')]
        |         ELSE [array_to_string(ws[i:i+2], ' ')
        |               FOR i IN generate_series(1, len(ws) - 2)] END AS grams
        |  FROM tok)
        |SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
        |  round((len(grams) - len(list_distinct(grams))) * 1.0
        |    / greatest(len(grams), 1), 6) AS dup_gram_frac
        |FROM g""".stripMargin),

    // ---- LLM: group-wise top-k (keep best N per source) ---------------
    // "keep the k longest docs per domain" — the per-stratum curation
    // cut, expressed entirely on the engine surface (Frame.window +
    // filter). Deterministic order: (n_tokens desc, doc_id asc).
    QuerySpec("q_topk_per_group", (s, dir) => {
      val q = TextOps.qualitySignals(t(s, dir, "documents"))
        .select(col("doc_id"), col("source"),
          col("n_tokens").cast("long").as("n_tokens"))
      Frame(q).window(Seq(E.col("source")),
          Seq((E.col("n_tokens"), false), (E.col("doc_id"), true)),
          Seq(("row_number", E.lit(1), "rn")))
        .filter(Raw(col("rn") <= 3, "rn <= 3"))
        .project(E.col("source"), E.col("doc_id"), E.col("n_tokens"),
          Raw(col("rn").cast("long").as("rn"), "rn")).df
    }, """WITH q AS (
        |  SELECT doc_id, source,
        |    len(string_split_regex(trim(text), '\s+')) AS n_tokens
        |  FROM documents)
        |SELECT source, doc_id, n_tokens, rn FROM (
        |  SELECT source, doc_id, n_tokens,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_tokens DESC, doc_id) AS rn
        |  FROM q) WHERE rn <= 3""".stripMargin),

    // ---- LLM: language ID (stopword-overlap heuristic) ----------------
    QuerySpec("q_lang_id", (s, dir) =>
      TextOps.langId(t(s, dir, "documents"))
        .groupBy(col("lang_pred")).agg(count(lit(1)).as("n")),
      // lang-ID argmax mirrored via fixed-width score-string encoding:
      // greatest() over printf('%014.9f', score) || lang reproduces Spark's
      // struct(score, lang) max ordering including the tie-break on lang.
      """WITH w AS (
        |  SELECT doc_id,
        |    list_distinct(string_split_regex(trim(lower(text)), '\s+')) AS dw
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, greatest(
        |    printf('%014.9f', len(list_intersect(dw, ['the','of','and','to','in','is','it','you','that','was','for','on','are','with','as','at','this'])) * 1.0 / greatest(len(dw),1)) || 'en',
        |    printf('%014.9f', len(list_intersect(dw, ['der','die','das','und','ist','ich','nicht','mit','ein','eine','zu','den','von','sie','auch'])) * 1.0 / greatest(len(dw),1)) || 'de',
        |    printf('%014.9f', len(list_intersect(dw, ['le','la','les','de','et','un','une','est','pour','que','dans','qui','pas','sur','avec'])) * 1.0 / greatest(len(dw),1)) || 'fr',
        |    printf('%014.9f', len(list_intersect(dw, ['el','los','las','de','y','un','una','es','por','que','en','no','se','del','con'])) * 1.0 / greatest(len(dw),1)) || 'es',
        |    printf('%014.9f', len(list_intersect(dw, ['的','是','不','了','在','人','有','我','他','这'])) * 1.0 / greatest(len(dw),1)) || 'zh') AS key
        |  FROM w)
        |SELECT substr(key, 15) AS lang_pred, count(*) AS n
        |FROM s GROUP BY 1""".stripMargin),

    // ---- LLM: Luhn-validated card detection --------------------------
    // a 16-digit run planted per doc (validity falls out of the digits,
    // neither engine knows it a priori — both run the same checksum);
    // candidates gate on run length 13-19 with no lookarounds, so the
    // RE2-based oracle regexp agrees with Spark's
    QuerySpec("q_pii_luhn", (s, dir) =>
      TextOps.detectCards(t(s, dir, "documents")
        .select(col("doc_id"), concat(col("text"), lit(" card "),
          lpad((col("doc_id") * 7919 % 10000000000L).cast("string"),
            16, "4")).as("text"))),
      // the Luhn fold restated as a DuckDB list comprehension over the
      // reversed digit string — same per-position doubling, same mod-10
      """WITH d AS (
        |  SELECT doc_id, text || ' card ' ||
        |    lpad(CAST(doc_id * 7919 % 10000000000 AS VARCHAR), 16, '4')
        |    AS text
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    list_filter(regexp_extract_all(text, '\d+'),
        |      x -> length(x) BETWEEN 13 AND 19) AS cands
        |  FROM d),
        |v AS (
        |  SELECT doc_id, cands,
        |    list_filter(cands, cc -> list_sum(
        |      [CASE WHEN i % 2 = 0 THEN
        |         CASE WHEN (ascii(reverse(cc)[i]) - 48) * 2 > 9
        |              THEN (ascii(reverse(cc)[i]) - 48) * 2 - 9
        |              ELSE (ascii(reverse(cc)[i]) - 48) * 2 END
        |       ELSE ascii(reverse(cc)[i]) - 48 END
        |       FOR i IN generate_series(1, length(cc))]) % 10 = 0) AS valid
        |  FROM c)
        |SELECT doc_id, CAST(len(cands) AS BIGINT) AS n_candidates,
        |  CAST(len(valid) AS BIGINT) AS n_luhn_valid,
        |  coalesce(array_to_string(valid, ','), '') AS valid_numbers
        |FROM v""".stripMargin),

    // ---- LLM: PII redaction (emails / IPv4 / digit runs) --------------
    // The fixture text is synthetic and PII-free, so the query first
    // plants deterministic PII per doc (email + ip + account number
    // derived from doc_id — reproducible in SQL on both engines), then
    // redacts: the oracle checks real substitutions, not a no-op.
    QuerySpec("q_pii_redact", (s, dir) => {
      val withPii = t(s, dir, "documents").where(col("doc_id") < 200)
        .select(col("doc_id"), concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com from 10.0.0."),
          col("doc_id") % 256, lit(" id 1234567890")).as("text"))
      TextOps.redactPii(withPii) // counts cast long: DuckDB len() is BIGINT
        .select(col("doc_id"), col("n_emails").cast("long").as("n_emails"),
          col("n_ipv4").cast("long").as("n_ipv4"),
          col("n_digit_runs").cast("long").as("n_digit_runs"),
          col("text_redacted"))
    }, """WITH d AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com from 10.0.0.'
        |      || (doc_id % 256) || ' id 1234567890' AS text
        |  FROM documents WHERE doc_id < 200)
        |SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(text, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS n_ipv4,
        |  len(regexp_extract_all(text, '\b[0-9]{9,}\b')) AS n_digit_runs,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
        |    '\b[0-9]{9,}\b', '<NUM>', 'g') AS text_redacted
        |FROM d""".stripMargin),

    // ---- LLM: Unicode normalization + canonical cleaning --------------
    // planted NFD sequences (combining marks) exercise the non-ASCII
    // path of the codegen'd unicode_normalize; the corpus rows take the
    // ASCII identity fast path
    QuerySpec("q_normalize", (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (100001L, "cafe\u0301  du   monde"),
        (100002L, "A\u030Angstro\u0308m UNITS"),
        (100003L, "  already clean  ")).toDF("doc_id", "text")
      t(s, dir, "documents").where(col("doc_id") < 50)
        .select(col("doc_id"), col("text")).unionByName(planted)
        .select(col("doc_id"), TextOps.normalizeText(col("text"))
          .as("text_norm"))
    },
      // chr(769)=U+0301 combining acute, chr(778)=U+030A ring,
      // chr(776)=U+0308 diaeresis — the same decomposed sequences the
      // Spark side plants; nfc_normalize is DuckDB's NFC
      """WITH d AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 50
        |  UNION ALL SELECT 100001, 'cafe' || chr(769) || '  du   monde'
        |  UNION ALL SELECT 100002,
        |    'A' || chr(778) || 'ngstro' || chr(776) || 'm UNITS'
        |  UNION ALL SELECT 100003, '  already clean  ')
        |SELECT doc_id,
        |  lower(trim(regexp_replace(nfc_normalize(text), '\s+', ' ', 'g')))
        |    AS text_norm
        |FROM d""".stripMargin),

    // ---- LLM: blocklist policy filter ---------------------------------
    // banned-phrase annotation: the term table broadcasts as one sorted
    // array and matching is a per-row codegen'd array filter — no
    // shuffle, linear in corpus size
    QuerySpec("q_blocklist", (s, dir) => {
      import s.implicits._
      val terms = Seq("slow scan", "big table", "hash merge",
        "stream batch", "forbidden phrase").toDF("term")
      TextOps.blocklist(t(s, dir, "documents"), terms)
    },
      // mirrors TextOps.wordShingles exactly: docs of <= n-1 words
      // contribute their whole text as one shingle; DuckDB's 1-based
      // INCLUSIVE slice ws[i:i+7] is Spark's slice(ws, i, 8)
      // left join on containment, '|'-joined sorted matches as the
      // sortable scalar
      """WITH terms(term) AS (VALUES ('slow scan'), ('big table'),
        |  ('hash merge'), ('stream batch'), ('forbidden phrase'))
        |SELECT d.doc_id,
        |  coalesce(string_agg(t.term, '|' ORDER BY t.term), '')
        |    AS matched_terms,
        |  CAST(count(t.term) AS INT) AS n_matched,
        |  count(t.term) > 0 AS blocked
        |FROM documents d LEFT JOIN terms t
        |  ON contains(lower(d.text), t.term)
        |GROUP BY d.doc_id""".stripMargin),

    // the same policy filter through the Aho-Corasick automaton — the
    // documented scale path when the blocklist outgrows the per-term
    // contains scan; same output columns, same oracle, one text pass
    // per document regardless of term count
    QuerySpec("q_blocklist_ac", (s, dir) => {
      import s.implicits._
      val terms = Seq("slow scan", "big table", "hash merge",
        "stream batch", "forbidden phrase").toDF("term")
      TextOps.blocklistAC(t(s, dir, "documents"), terms)
    },
      // identical semantics, automaton-matched on the Spark side
      """WITH terms(term) AS (VALUES ('slow scan'), ('big table'),
        |  ('hash merge'), ('stream batch'), ('forbidden phrase'))
        |SELECT d.doc_id,
        |  coalesce(string_agg(t.term, '|' ORDER BY t.term), '')
        |    AS matched_terms,
        |  CAST(count(t.term) AS INT) AS n_matched,
        |  count(t.term) > 0 AS blocked
        |FROM documents d LEFT JOIN terms t
        |  ON contains(lower(d.text), t.term)
        |GROUP BY d.doc_id""".stripMargin),

    // ---- LLM: vocabulary extraction (token -> tf / doc frequency) -----
    // top slice by (tf desc, token) for a deterministic result set
    QuerySpec("q_vocab", (s, dir) =>
      TextOps.vocabulary(t(s, dir, "documents"))
        .orderBy(col("tf").desc, col("token")).limit(100),
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents)
        |SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df_docs
        |FROM t GROUP BY token ORDER BY tf DESC, token LIMIT 100""".stripMargin),

    // ---- LLM: Zipf's-law fit (corpus-health power-law exponent) -------
    // OLS of ln(tf) on ln(rank) over the top-1000 tokens: natural text
    // sits near slope -1, templated corpora flatten. Quantized logs +
    // DECIMAL moment sums make the fitted doubles engine-exact
    QuerySpec("q_zipf_fit", (s, dir) =>
      graft.ops.Freq.zipfFit(
        TextOps.vocabulary(t(s, dir, "documents"))
          .select(col("token"), col("tf")),
        "token", "tf", 1000),
      // the Zipf fit restated: same tokenizer as q_vocab, rank ties break
      // on the token, ln quantized to 9 decimals, moments summed in
      // DECIMAL(38,9) (exact for 9-decimal values), and the closed-form
      // OLS written with the same association order as the Spark side
      """WITH t AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT token, count(*) AS tf FROM t GROUP BY token),
        |top AS (SELECT token, tf FROM tf ORDER BY tf DESC, token LIMIT 1000),
        |rk AS (
        |  SELECT tf, row_number() OVER (ORDER BY tf DESC, token) AS rank
        |  FROM top),
        |q AS (
        |  SELECT round(ln(CAST(rank AS DOUBLE)), 9) AS x,
        |    round(ln(CAST(tf AS DOUBLE)), 9) AS y
        |  FROM rk),
        |s AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(38,9))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(38,9))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(round(x * x, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(round(x * y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(round(y * y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS syy
        |  FROM q),
        |f AS (
        |  SELECT n, n * sxy - sx * sy AS a, n * sxx - sx * sx AS b,
        |    n * syy - sy * sy AS c, sx, sy
        |  FROM s)
        |SELECT n, a / b AS slope,
        |  (sy - a / b * sx) / n AS intercept,
        |  a * a / (b * c) AS r2
        |FROM f""".stripMargin),

    // ---- LLM: per-source Zipf fit (templated-source triage) -----------
    // one slope per source from a group-KEYED rank window — no
    // single-partition stage anywhere, fully parallel at any source count
    QuerySpec("q_zipf_by_source", (s, dir) => {
      val docs = t(s, dir, "documents")
      val counts = docs.select(col("source"),
          explode(TextOps.words(lower(col("text")))).as("token"))
        .groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("tf"))
      graft.ops.Freq.zipfFitBy(counts, "source", "token", "tf", 500)
    },
      // per-source ranks partition the window by source; otherwise the
      // q_zipf_fit recipe verbatim
      """WITH t AS (
        |  SELECT source,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT source, token, count(*) AS tf FROM t GROUP BY 1, 2),
        |rk AS (
        |  SELECT source, tf, row_number() OVER (PARTITION BY source
        |    ORDER BY tf DESC, token) AS rank
        |  FROM tf
        |  QUALIFY rank <= 500),
        |q AS (
        |  SELECT source, round(ln(CAST(rank AS DOUBLE)), 9) AS x,
        |    round(ln(CAST(tf AS DOUBLE)), 9) AS y
        |  FROM rk),
        |s AS (
        |  SELECT source, count(*) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(38,9))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(38,9))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(round(x * x, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(round(x * y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(round(y * y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS syy
        |  FROM q GROUP BY 1),
        |f AS (
        |  SELECT source, n, n * sxy - sx * sy AS a, n * sxx - sx * sx AS b,
        |    n * syy - sy * sy AS c
        |  FROM s)
        |SELECT source, n, a / b AS slope, a * a / (b * c) AS r2
        |FROM f""".stripMargin),

    // ---- LLM: Heaps'-law fit (vocabulary growth exponent) -------------
    // V(n) ~ K n^beta over the corpus in doc order: one exact-integer
    // point per document, same quantized OLS as the Zipf fit
    QuerySpec("q_heaps_fit", (s, dir) =>
      graft.ops.Freq.heapsFit(t(s, dir, "documents")),
      // the Heaps fit restated: cumulative tokens and cumulative
      // first-occurrence counts per doc (both exact integers), then the
      // same quantized OLS as q_zipf_fit
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |per_doc AS (SELECT doc_id, count(*) AS ntok FROM tok GROUP BY 1),
        |newv AS (
        |  SELECT d AS doc_id, count(*) AS vnew
        |  FROM (SELECT min(doc_id) AS d FROM tok GROUP BY token)
        |  GROUP BY 1),
        |pts AS (
        |  SELECT sum(p.ntok) OVER (ORDER BY p.doc_id) AS xn,
        |    sum(coalesce(v.vnew, 0)) OVER (ORDER BY p.doc_id) AS yv
        |  FROM per_doc p LEFT JOIN newv v USING (doc_id)),
        |q AS (
        |  SELECT round(ln(CAST(xn AS DOUBLE)), 9) AS x,
        |    round(ln(CAST(yv AS DOUBLE)), 9) AS y
        |  FROM pts),
        |s AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(38,9))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(38,9))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(round(x * x, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(round(x * y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(round(y * y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS syy
        |  FROM q),
        |f AS (
        |  SELECT n, n * sxy - sx * sy AS a, n * sxx - sx * sx AS b,
        |    n * syy - sy * sy AS c, sx, sy
        |  FROM s)
        |SELECT n, a / b AS slope,
        |  (sy - a / b * sx) / n AS intercept,
        |  a * a / (b * c) AS r2
        |FROM f""".stripMargin),

    // ---- LLM: per-source Heaps fit (duplicate-heavy-source triage) ----
    // one vocabulary-growth exponent per source, every window keyed on
    // the source — the grouped twin of q_heaps_fit
    QuerySpec("q_heaps_by_source", (s, dir) =>
      graft.ops.Freq.heapsFitBy(t(s, dir, "documents"), "source"),
      // the grouped Heaps fit: the q_heaps_fit construction with every
      // aggregate and window additionally keyed on source
      """WITH tok AS (
        |  SELECT source, doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |per_doc AS (
        |  SELECT source, doc_id, count(*) AS ntok
        |  FROM tok GROUP BY 1, 2),
        |newv AS (
        |  SELECT source, d AS doc_id, count(*) AS vnew
        |  FROM (SELECT source, min(doc_id) AS d FROM tok
        |        GROUP BY source, token)
        |  GROUP BY 1, 2),
        |pts AS (
        |  SELECT p.source,
        |    sum(p.ntok) OVER (PARTITION BY p.source
        |                      ORDER BY p.doc_id) AS xn,
        |    sum(coalesce(v.vnew, 0)) OVER (PARTITION BY p.source
        |                                   ORDER BY p.doc_id) AS yv
        |  FROM per_doc p LEFT JOIN newv v USING (source, doc_id)),
        |q AS (
        |  SELECT source, round(ln(CAST(xn AS DOUBLE)), 9) AS x,
        |    round(ln(CAST(yv AS DOUBLE)), 9) AS y
        |  FROM pts),
        |s AS (
        |  SELECT source, count(*) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(38,9))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(38,9))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(round(x * x, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(round(x * y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(round(y * y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS syy
        |  FROM q GROUP BY 1),
        |f AS (
        |  SELECT source, n, n * sxy - sx * sy AS a, n * sxx - sx * sx AS b,
        |    n * syy - sy * sy AS c
        |  FROM s)
        |SELECT source, n, a / b AS slope, a * a / (b * c) AS r2
        |FROM f""".stripMargin),

    // ---- LLM: BPE tokenizer training (iterative pair merges) ----------
    // the first learned merge rule is SQL-expressible (one weighted
    // adjacent-character-pair count over the word-frequency table +
    // deterministic argmax), so it carries the oracle; the multi-merge
    // path is pinned by q_bpe_merges (an unrolled replay oracle) and
    // TextOpsSpec's reference-implementation comparison
    QuerySpec("q_bpe_first", (s, dir) =>
      TextOps.bpeMerges(t(s, dir, "documents"), numMerges = 1),
      // BPE merge #1: the arg-max weighted adjacent character pair over the
      // word-frequency table, tie-broken (count desc, left, right) exactly
      // as the engine pins it
      """WITH w AS (
        |  SELECT word, count(*) AS cnt FROM (
        |    SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
        |    FROM documents WHERE trim(coalesce(text, '')) <> '')
        |  WHERE word <> '' GROUP BY word),
        |p AS (
        |  SELECT substring(word, i, 1) AS l, substring(word, i + 1, 1) AS r,
        |    CAST(sum(cnt) AS BIGINT) AS pair_count
        |  FROM w, unnest(generate_series(1, length(word) - 1)) AS t(i)
        |  GROUP BY 1, 2)
        |SELECT CAST(1 AS BIGINT) AS merge_rank, l AS "left", r AS "right",
        |  pair_count
        |FROM p WHERE pair_count >= 2
        |ORDER BY pair_count DESC, l, r LIMIT 1""".stripMargin),

    QuerySpec("q_bpe_merges", (s, dir) =>
      TextOps.bpeMerges(t(s, dir, "documents"), numMerges = 8),
      // full 8-round training replay (unrolled CTE stages; framed-replace
      // merge — see bpeTrainCtes) and the trained tokenizer applied to the
      // corpus: the two queries the r6 verdict flagged as oracle-less
      bpeMergesSql(8)),

    // apply half of the tokenizer: train 8 rules, replay them over the
    // corpus. The token array is emitted as a '|'-joined scalar plus its
    // length — an array<string> column crashes the driver comparator's
    // pandas sort (CORRECTNESS_r06: "unhashable type: numpy.ndarray"),
    // and the joined form carries strictly the same information. The
    // DuckDB oracle replays training AND encoding (bpeOracleCtes).
    QuerySpec("q_bpe_encode", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = TextOps.bpeMerges(docs, numMerges = 8)
        .orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      // production path: the single codegen'd bpe_encode expression
      // (fold-equivalence pinned in TextOpsSpec; the oracle below replays
      // training+encode independently in DuckDB, so this row verifies the
      // expression end-to-end)
      graft.Graft.init(s)
      TextOps.bpeEncodeFast(docs, merges)
        .select(col("doc_id"),
          array_join(col("tokens"), "|").as("tokens_joined"),
          col("n_tokens"))
    }, bpeEncodeSql(8)),

    // ---- LLM: unigram-LM (SentencePiece-style) Viterbi encode ----------
    // the second production subword family next to BPE: segmentation
    // maximizes summed integer micro-log-probs (ties: fewer tokens, then
    // UTF-8-lex token sequence), so the DuckDB oracle can replay the DP
    // EXACTLY as unrolled per-position stages. The vocabulary here is
    // PLANTED (shared verbatim with the oracle): it exercises a
    // whole-word piece beating its bigrams ('scan'), an engineered
    // exact-score tie ('abcd': [ab,cd] vs [abc,d], lex pick), and <unk>
    // on characters outside the inventory ('zx'). Training itself is
    // driver-side (unigramPieces — the bpeMerges collect contract) and
    // is pinned by TextOpsSpec's brute-force Viterbi parity instead of
    // an oracle (soft scores from ln() would put floats inside the DP
    // on the SQL side; the planted-vocab DP keeps the oracle integer).
    QuerySpec("q_unigram_encode", (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (300001L, "scanjoin thequery zx"),
        (300002L, "abcd scan order"),
        (300003L, "customer merge vector tablesort"))
        .toDF("doc_id", "text")
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .where(col("text").isNotNull && trim(col("text")) =!= "")
        .unionByName(planted)
      graft.Graft.init(s)
      TextOps.unigramEncodeFast(docs, unigramVocab, "doc_id", "text")
        .select(col("doc_id"),
          array_join(col("tokens"), "|").as("tokens_joined"),
          col("n_tokens"))
    },
      // mirrors TextOps.unigramEncodeFast on the planted vocabulary: the
      // Viterbi DP unrolled per position; 9 covers the longest word
      // ('tablesort'), 5 the longest piece ('query')
      unigramEncodeSql(9, 5)),

    // ---- LLM: unigram LM quality score (model-based filter slot) ------
    // per-doc mean token log-prob under the corpus's own unigram model;
    // log-probs quantized to 1e-6 and folded in token order so both
    // engines produce the identical double (TextOps.lmScore)
    QuerySpec("q_lm_score", (s, dir) =>
      TextOps.lmScore(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("mean_logp")),
      // mirrors TextOps.lmScore exactly: quantized per-token ln, ordered
      // list fold (list_prepend seed trick, as in q_fingerprint_md5)
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, unnest(
        |    [{'i': i, 'token': ws[i]} FOR i IN generate_series(1, len(ws))]) AS u
        |  FROM tok),
        |v AS (
        |  SELECT u.token AS token, count(*) AS tf FROM e GROUP BY u.token),
        |t AS (SELECT sum(tf) AS total FROM v),
        |lp AS (
        |  SELECT token, round(ln(CAST(tf AS DOUBLE) / CAST(total AS DOUBLE)), 6)
        |    AS logp
        |  FROM v, t),
        |d AS (
        |  SELECT e.doc_id, list(lp.logp ORDER BY e.u.i) AS lps
        |  FROM e JOIN lp ON e.u.token = lp.token GROUP BY e.doc_id)
        |SELECT doc_id, CAST(len(lps) AS BIGINT) AS n_tokens,
        |  list_reduce(list_prepend(0.0, lps), (a, x) -> a + x) / len(lps)
        |    AS mean_logp
        |FROM d""".stripMargin),

    // ---- LLM: TF-IDF top-5 keywords per document ----------------------
    // idf quantized to 1e-6 before the single tf·idf multiply (lmScore
    // determinism contract); ties break on token ascending
    QuerySpec("q_tfidf", (s, dir) =>
      TextOps.tfidfTopTerms(t(s, dir, "documents"), k = 5),
      // mirrors TextOps.tfidfTopTerms: idf quantized to 1e-6 before the
      // single tf·idf multiply, rank ties broken on token ascending
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS df_docs FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |idf AS (
        |  SELECT token,
        |    round(ln(CAST(n_docs AS DOUBLE) / CAST(df_docs AS DOUBLE)), 6)
        |      AS idf
        |  FROM df, n),
        |s AS (
        |  SELECT tf.doc_id, tf.token, tf.tf,
        |    round(CAST(tf.tf AS DOUBLE) * idf.idf, 6) AS tfidf
        |  FROM tf JOIN idf USING (token)),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rk
        |  FROM s)
        |SELECT doc_id, token, tf, tfidf FROM r WHERE rk <= 5""".stripMargin),

    // ---- LLM: bigram LM score with stupid backoff (CCNet-style --------
    // perplexity filter): position 1 scores ln(c(w1)/T), later positions
    // ln(cb/c1) for seen bigrams else ln(0.4*c(w)/T); every log-prob
    // quantized to integer micros and BIGINT-summed (TextOps.bigramLmScore)
    QuerySpec("q_bigram_lm", (s, dir) =>
      TextOps.bigramLmScore(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("mean_logp")),
      // mirrors TextOps.bigramLmScore: map-side slice+zip bigrams, micros
      // quantization per position, exact integer sum, backoff 0.4
      """WITH base AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(ws) AS w FROM base),
        |uni AS (SELECT w, count(*) AS cu FROM tok GROUP BY w),
        |tot AS (SELECT sum(cu) AS t FROM uni),
        |pairs AS (
        |  SELECT doc_id, p[1] AS w1, p[2] AS w2 FROM (
        |    SELECT doc_id,
        |      unnest(list_zip(ws[1:len(ws)-1], ws[2:])) AS p
        |    FROM base WHERE len(ws) >= 2)),
        |big AS (SELECT w1, w2, count(*) AS cb FROM pairs GROUP BY 1, 2),
        |first AS (
        |  SELECT doc_id, CAST(round(ln(CAST(cu AS DOUBLE)
        |      / CAST(t AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS m
        |  FROM (SELECT doc_id, ws[1] AS w FROM base WHERE len(ws) >= 1)
        |  JOIN uni USING (w) CROSS JOIN tot),
        |rest AS (
        |  SELECT p.doc_id,
        |    CASE WHEN b.cb IS NOT NULL THEN
        |      CAST(round(ln(CAST(b.cb AS DOUBLE) / CAST(u1.cu AS DOUBLE))
        |        * 1000000.0, 0) AS BIGINT)
        |    ELSE
        |      CAST(round(ln(0.4 * (CAST(u2.cu AS DOUBLE)
        |        / CAST(t AS DOUBLE))) * 1000000.0, 0) AS BIGINT)
        |    END AS m
        |  FROM pairs p
        |  LEFT JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
        |  JOIN uni u1 ON p.w1 = u1.w
        |  JOIN uni u2 ON p.w2 = u2.w
        |  CROSS JOIN tot),
        |s AS (SELECT * FROM first UNION ALL SELECT * FROM rest)
        |SELECT doc_id, count(*) AS n_tokens,
        |  (CAST(sum(m) AS DOUBLE) / 1000000.0) / CAST(count(*) AS DOUBLE)
        |    AS mean_logp
        |FROM s GROUP BY doc_id""".stripMargin),

    // ---- LLM: bigram LM scored against a SEPARATE model corpus --------
    // (the real CCNet shape: train on the reference slice, score
    // everything) — model = the src0 slice only, so unseen bigrams take
    // the 0.4-weighted unigram backoff and model-OOV words the count
    // floor of 1; quantization contract identical to q_bigram_lm
    QuerySpec("q_bigram_lm_oov", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.bigramLmScore(docs,
          model = docs.where(col("source") === "src0"))
        .select(col("doc_id"), col("n_tokens"), col("mean_logp"))
    },
      // mirrors TextOps.bigramLmScore with model = the src0 slice: left
      // joins against the model counts, count floor greatest(coalesce(c,0),1)
      // for model-OOV words, 0.4 backoff for unseen bigrams
      """WITH base AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |mbase AS (
        |  SELECT string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents WHERE source = 'src0'),
        |uni AS (
        |  SELECT w, count(*) AS cu FROM (SELECT unnest(ws) AS w FROM mbase)
        |  GROUP BY w),
        |tot AS (SELECT sum(cu) AS t FROM uni),
        |big AS (
        |  SELECT w1, w2, count(*) AS cb FROM (
        |    SELECT p[1] AS w1, p[2] AS w2 FROM (
        |      SELECT unnest(list_zip(ws[1:len(ws)-1], ws[2:])) AS p
        |      FROM mbase WHERE len(ws) >= 2))
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_id, p[1] AS w1, p[2] AS w2 FROM (
        |    SELECT doc_id,
        |      unnest(list_zip(ws[1:len(ws)-1], ws[2:])) AS p
        |    FROM base WHERE len(ws) >= 2)),
        |first AS (
        |  SELECT doc_id, CAST(round(ln(
        |      CAST(greatest(coalesce(cu, 0), 1) AS DOUBLE)
        |      / CAST(t AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS m
        |  FROM (SELECT doc_id, ws[1] AS w FROM base WHERE len(ws) >= 1)
        |  LEFT JOIN uni USING (w) CROSS JOIN tot),
        |rest AS (
        |  SELECT p.doc_id,
        |    CASE WHEN b.cb IS NOT NULL THEN
        |      CAST(round(ln(CAST(b.cb AS DOUBLE) / CAST(u1.cu AS DOUBLE))
        |        * 1000000.0, 0) AS BIGINT)
        |    ELSE
        |      CAST(round(ln(0.4 * (CAST(greatest(coalesce(u2.cu, 0), 1)
        |        AS DOUBLE) / CAST(t AS DOUBLE))) * 1000000.0, 0) AS BIGINT)
        |    END AS m
        |  FROM pairs p
        |  LEFT JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
        |  LEFT JOIN uni u1 ON p.w1 = u1.w
        |  LEFT JOIN uni u2 ON p.w2 = u2.w
        |  CROSS JOIN tot),
        |s AS (SELECT * FROM first UNION ALL SELECT * FROM rest)
        |SELECT doc_id, count(*) AS n_tokens,
        |  (CAST(sum(m) AS DOUBLE) / 1000000.0) / CAST(count(*) AS DOUBLE)
        |    AS mean_logp
        |FROM s GROUP BY doc_id""".stripMargin),

    // ---- LLM: CCNet perplexity buckets (head / middle / tail) ----------
    // per-language ntile(3) over the bigram-LM score (q_bigram_lm's
    // exact construction): head = most-fluent third under the corpus's
    // own LM — the CCNet bucketing that decides what gets kept,
    // LM-filtered, or dropped; ordering is total (mean_logp, doc_id)
    QuerySpec("q_ccnet_buckets", (s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = TextOps.bigramLmScore(docs)
        .select(col("doc_id"), col("mean_logp"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("mean_logp").desc, col("doc_id"))
      docs.select(col("doc_id"), col("lang")).join(scored, Seq("doc_id"))
        .withColumn("nt", ntile(3).over(w))
        .select(col("doc_id"), col("lang"),
          when(col("nt") === 1, "head").when(col("nt") === 2, "middle")
            .otherwise("tail").as("bucket"))
    },
      // q_bigram_lm's exact scoring construction + per-language ntile(3)
      // on the (mean_logp DESC, doc_id) total order
      """WITH base AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(ws) AS w FROM base),
        |uni AS (SELECT w, count(*) AS cu FROM tok GROUP BY w),
        |tot AS (SELECT sum(cu) AS t FROM uni),
        |pairs AS (
        |  SELECT doc_id, p[1] AS w1, p[2] AS w2 FROM (
        |    SELECT doc_id,
        |      unnest(list_zip(ws[1:len(ws)-1], ws[2:])) AS p
        |    FROM base WHERE len(ws) >= 2)),
        |big AS (SELECT w1, w2, count(*) AS cb FROM pairs GROUP BY 1, 2),
        |first AS (
        |  SELECT doc_id, CAST(round(ln(CAST(cu AS DOUBLE)
        |      / CAST(t AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS m
        |  FROM (SELECT doc_id, ws[1] AS w FROM base WHERE len(ws) >= 1)
        |  JOIN uni USING (w) CROSS JOIN tot),
        |rest AS (
        |  SELECT p.doc_id,
        |    CASE WHEN b.cb IS NOT NULL THEN
        |      CAST(round(ln(CAST(b.cb AS DOUBLE) / CAST(u1.cu AS DOUBLE))
        |        * 1000000.0, 0) AS BIGINT)
        |    ELSE
        |      CAST(round(ln(0.4 * (CAST(u2.cu AS DOUBLE)
        |        / CAST(t AS DOUBLE))) * 1000000.0, 0) AS BIGINT)
        |    END AS m
        |  FROM pairs p
        |  LEFT JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
        |  JOIN uni u1 ON p.w1 = u1.w
        |  JOIN uni u2 ON p.w2 = u2.w
        |  CROSS JOIN tot),
        |sm AS (SELECT * FROM first UNION ALL SELECT * FROM rest),
        |scored AS (
        |  SELECT doc_id,
        |    (CAST(sum(m) AS DOUBLE) / 1000000.0) / CAST(count(*) AS DOUBLE)
        |      AS mean_logp
        |  FROM sm GROUP BY doc_id),
        |nt AS (
        |  SELECT d.doc_id, d.lang,
        |    ntile(3) OVER (PARTITION BY d.lang
        |      ORDER BY s.mean_logp DESC, d.doc_id) AS nt
        |  FROM documents d JOIN scored s USING (doc_id))
        |SELECT doc_id, lang,
        |  CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
        |    AS bucket
        |FROM nt""".stripMargin),

    // ---- LLM: trained linear quality classifier (fastText-style) ------
    // full-batch GD inside the engine: 5 rounds of one corpus-wide
    // aggregate each (gradients sum in exact micros), rational sigmoid
    // (no libm), then a pure per-row scoring pass; label = lang == 'en',
    // features = capped length, capped token count, stopword ratio
    // (ops/Classifier.train/score — oracle replays all 5 rounds)
    QuerySpec("q_quality_classifier", (s, dir) => {
      Graft.init(s)
      val docs = t(s, dir, "documents")
      // word + stopword counts in one fused byte scan (the interpreted
      // split + filter(isin) lambda ran on every GD pass); counts are
      // exact byte-compares, so features are bit-identical to the
      // split/size/filter formulation the oracle replays
      val st = graft.functions.TextExprs.wordStopStats(
        trim(lower(col("text"))), Seq("the", "a", "and", "of", "to"))
      val nWords = st.getField("n_words")
      val feats = Seq(
        least(col("n_chars"), lit(2000L)).cast("double") / lit(2000.0),
        least(nWords, lit(400)).cast("double") / lit(400.0),
        st.getField("n_stop").cast("double")
          / greatest(nWords, lit(1)).cast("double"))
      val y = when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0))
      val model = graft.ops.Classifier.train(docs, feats, y,
        iterations = 5, lr = 1.0)
      graft.ops.Classifier.score(docs, feats, model)
        .select(col("doc_id"), col("score"), col("pred"))
    },
      // replays Classifier.train's 5 GD rounds + the scoring pass (see
      // qualityClassifierSql)
      qualityClassifierSql(5)),

    // ---- LLM: DSIR importance resampling (Xie et al. 2023) ------------
    // hashed unigram+bigram bucket distributions (1024 md5 buckets,
    // add-one smoothing): target = the English slice, raw = the whole
    // corpus; every raw doc scored by its exact-integer-summed log
    // importance ratio, top-100 kept (Sampling.importanceResample)
    QuerySpec("q_dsir", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Sampling.importanceResample(docs,
        docs.where(col("lang") === "en"), nBuckets = 1024, k = 100)
    },
      // mirrors Sampling.importanceWeights: md5 feature buckets, add-one
      // smoothing over 1024 buckets, per-bucket micros-quantized log
      // difference, exact BIGINT per-doc sum, top-100 on (logw, doc_id)
      """WITH base AS (
        |  SELECT doc_id, lang,
        |    string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, lang, unnest(list_concat(ws,
        |    list_transform(list_zip(ws[1:len(ws)-1], ws[2:]),
        |      p -> p[1] || ' ' || p[2]))) AS f
        |  FROM base),
        |fb AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substring(md5(f), 1, 8)) AS BIGINT) % 1024
        |      AS bucket
        |  FROM f),
        |tgt AS (SELECT bucket, count(*) AS ct FROM fb WHERE lang = 'en'
        |        GROUP BY 1),
        |rawc AS (SELECT bucket, count(*) AS cr FROM fb GROUP BY 1),
        |tts AS (SELECT sum(ct) AS tt FROM tgt),
        |trs AS (SELECT sum(cr) AS tr FROM rawc),
        |m AS (
        |  SELECT fb.doc_id,
        |    CAST(round(ln((CAST(coalesce(ct, 0) AS DOUBLE) + 1.0)
        |      / CAST(tt + 1024 AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
        |  - CAST(round(ln((CAST(cr AS DOUBLE) + 1.0)
        |      / CAST(tr + 1024 AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS m
        |  FROM fb LEFT JOIN tgt USING (bucket) JOIN rawc USING (bucket)
        |  CROSS JOIN tts CROSS JOIN trs),
        |d AS (SELECT doc_id, sum(m) AS sm FROM m GROUP BY 1)
        |SELECT doc_id, CAST(sm AS DOUBLE) / 1000000.0 AS logw
        |FROM d ORDER BY sm DESC, doc_id LIMIT 100""".stripMargin),

    // ---- LLM: source vocabulary overlap matrix ------------------------
    // pairwise distinct-term Jaccard between the 20 fixture sources —
    // term-keyed pair join bounded by |vocab| x C(20,2), exact micros
    // (ops/TextOps.sourceOverlap)
    QuerySpec("q_source_overlap", (s, dir) =>
      TextOps.sourceOverlap(t(s, dir, "documents"), "source"),
      // mirrors TextOps.sourceOverlap: same distinct (source, term)
      // universe, same truncating micros Jaccard
      """WITH gt AS (
        |  SELECT DISTINCT source AS g,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents WHERE source IS NOT NULL),
        |sz AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM gt GROUP BY 1),
        |pr AS (
        |  SELECT x.g AS src_a, y.g AS src_b,
        |    CAST(count(*) AS BIGINT) AS n_both
        |  FROM gt x JOIN gt y ON x.term = y.term AND x.g < y.g
        |  GROUP BY 1, 2)
        |SELECT pr.src_a, pr.src_b, sa.n AS n_a, sb.n AS n_b, pr.n_both,
        |  (1000000 * pr.n_both) // (sa.n + sb.n - pr.n_both)
        |    AS jaccard_micros
        |FROM pr
        |JOIN sz sa ON pr.src_a = sa.g
        |JOIN sz sb ON pr.src_b = sb.g""".stripMargin),

    // ---- LLM: distinctive vocabulary between corpus slices ------------
    // Fightin'-Words log-odds z with add-one prior: which terms mark the
    // en slice against the rest — quantized lns, exact BIGINT counts,
    // top-40 by (z desc, term) (ops/TextOps.distinctiveTerms)
    QuerySpec("q_distinctive_terms", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.distinctiveTerms(docs.where(col("lang") === "en"),
        docs.where(col("lang") =!= "en"), k = 40)
    },
      // mirrors TextOps.distinctiveTerms: same add-one log-odds, same
      // 1e-6 ln quantization, same (z desc, term) total order
      """WITH ta AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents WHERE lang = 'en'),
        |tb AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents WHERE lang <> 'en'),
        |ca AS (SELECT term, count(*) AS cnt_a FROM ta GROUP BY 1),
        |cb AS (SELECT term, count(*) AS cnt_b FROM tb GROUP BY 1),
        |j AS (
        |  SELECT coalesce(ca.term, cb.term) AS term,
        |    CAST(coalesce(cnt_a, 0) AS BIGINT) AS cnt_a,
        |    CAST(coalesce(cnt_b, 0) AS BIGINT) AS cnt_b
        |  FROM ca FULL OUTER JOIN cb ON ca.term = cb.term),
        |tot AS (
        |  SELECT CAST(sum(cnt_a) AS BIGINT) AS tot_a,
        |    CAST(sum(cnt_b) AS BIGINT) AS tot_b,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM j),
        |z AS (
        |  SELECT term, cnt_a, cnt_b,
        |    round((round(ln(CAST(cnt_a + 1 AS DOUBLE)
        |        / CAST(tot_a + v - cnt_a - 1 AS DOUBLE)), 6)
        |      - round(ln(CAST(cnt_b + 1 AS DOUBLE)
        |        / CAST(tot_b + v - cnt_b - 1 AS DOUBLE)), 6))
        |      / sqrt(1.0 / CAST(cnt_a + 1 AS DOUBLE)
        |        + 1.0 / CAST(cnt_b + 1 AS DOUBLE)), 6) AS z_score
        |  FROM j CROSS JOIN tot
        |  WHERE cnt_a + cnt_b >= 5)
        |SELECT term, cnt_a, cnt_b, z_score FROM z
        |ORDER BY z_score DESC, term LIMIT 40""".stripMargin),

    // ---- LLM: PMI collocations (phrase mining, word2phrase step) ------
    // top-20 bigrams by pointwise mutual information among those seen
    // >= 5 times; ln quantized to 1e-6, ties break on the bigram string
    QuerySpec("q_collocations", (s, dir) =>
      TextOps.collocations(t(s, dir, "documents"), minCount = 5, k = 20),
      // mirrors TextOps.collocations: one tokenize, quantized ln, bigram
      // tie-break; DuckDB list comprehension builds the bigram events
      """WITH tok AS (
        |  SELECT string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |uni AS (SELECT unnest(ws) AS tok FROM tok),
        |ucnt AS (SELECT tok, count(*) AS c_tok FROM uni GROUP BY tok),
        |big AS (
        |  SELECT unnest([ws[i] || ' ' || ws[i+1]
        |                 FOR i IN generate_series(1, len(ws) - 1)]) AS b
        |  FROM tok WHERE len(ws) >= 2),
        |bcnt AS (SELECT b, count(*) AS cnt FROM big GROUP BY b),
        |tt AS (SELECT sum(c_tok) AS t_uni FROM ucnt),
        |bt AS (SELECT sum(cnt) AS t_big FROM bcnt),
        |j AS (
        |  SELECT b.b AS bigram, b.cnt,
        |    round(ln((CAST(b.cnt AS DOUBLE) / CAST(t_big AS DOUBLE)) /
        |      ((CAST(ux.c_tok AS DOUBLE) / CAST(t_uni AS DOUBLE)) *
        |       (CAST(uy.c_tok AS DOUBLE) / CAST(t_uni AS DOUBLE)))), 6)
        |      AS pmi
        |  FROM bcnt b, tt, bt
        |  JOIN ucnt ux ON string_split(b.b, ' ')[1] = ux.tok
        |  JOIN ucnt uy ON string_split(b.b, ' ')[2] = uy.tok
        |  WHERE b.cnt >= 5)
        |SELECT bigram, CAST(cnt AS BIGINT) AS cnt, pmi FROM j
        |ORDER BY pmi DESC, bigram LIMIT 20""".stripMargin),

    // ---- LLM: tokenization against a top-1000 vocabulary --------------
    // tokens outside the top-1000 (by tf, token-tiebroken) map to -1
    // (OOV); output is scalar columns only (ids as a joined string — the
    // driver comparator can't hash array cells)
    QuerySpec("q_tokenize", (s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = TextOps.vocabulary(docs)
        .orderBy(col("tf").desc, col("token")).limit(1000)
      TextOps.tokenizeWithVocab(docs, vocab)
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_ids"),
          size(filter(col("token_ids"), i => i === -1)).cast("long").as("n_oov"),
          array_join(transform(col("token_ids"), _.cast("string")), " ")
            .as("ids_str"))
    }, """WITH tok AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |v AS (
        |  SELECT token, row_number() OVER (ORDER BY tf DESC, token) - 1 AS tok_id
        |  FROM (
        |    SELECT token, count(*) AS tf
        |    FROM (SELECT unnest(ws) AS token FROM tok) GROUP BY token)
        |  QUALIFY tok_id < 1000),
        |e AS (
        |  SELECT doc_id, unnest(
        |    [{'i': i, 'token': ws[i]} FOR i IN generate_series(1, len(ws))]) AS u
        |  FROM tok),
        |j AS (
        |  SELECT e.doc_id, e.u.i AS i, coalesce(v.tok_id, -1) AS tid
        |  FROM e LEFT JOIN v ON e.u.token = v.token)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ids,
        |  CAST(count(*) FILTER (tid = -1) AS BIGINT) AS n_oov,
        |  array_to_string(list(tid ORDER BY i), ' ') AS ids_str
        |FROM j GROUP BY doc_id""".stripMargin),

    // ---- LLM: temperature-based language rebalancing ------------------
    // the XLM-R multilingual sampling rule: keep language l with
    // p ∝ c_l^0.5 / c_l toward a 50% overall target, flattening the en-
    // heavy fixture (en 218 of 500) so low-resource langs keep share.
    // alpha fixed at the exactly-reproducible sqrt point; W folded in
    // sorted-group order; md5-bucket keep — the oracle recomputes the
    // identical probabilities and selection (ops/Sampling.temperatureSample)
    QuerySpec("q_temperature_sample", (s, dir) =>
      graft.ops.Sampling.temperatureSample(t(s, dir, "documents"),
        "lang", "doc_id", alphaHalves = 1, targetNum = 1, targetDen = 2)
        .select(col("doc_id"), col("lang")),
      // mirrors Sampling.temperatureSample: same sorted-order W fold
      // (list_reduce = left-assoc IEEE adds), same probability arithmetic
      // sequence, same md5 bucket selection
      """WITH c AS (
        |  SELECT lang AS g, CAST(count(*) AS BIGINT) AS c
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM c),
        |bigw AS (
        |  SELECT list_reduce(
        |    list_prepend(CAST(0.0 AS DOUBLE),
        |      list(sqrt(CAST(c AS DOUBLE)) ORDER BY g)),
        |    (acc, x) -> acc + x) AS w FROM c),
        |p AS (
        |  SELECT g, least(CAST(1.0 AS DOUBLE),
        |    CAST((SELECT n * 1 // 2 FROM tot) AS DOUBLE)
        |      * sqrt(CAST(c AS DOUBLE)) / (SELECT w FROM bigw)
        |      / CAST(c AS DOUBLE)) AS p
        |  FROM c)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN p ON d.lang = p.g
        |WHERE CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)
        |    || ':temp'), 1, 8) AS BIGINT) % 10000 < p.p * 10000""".stripMargin))
}
