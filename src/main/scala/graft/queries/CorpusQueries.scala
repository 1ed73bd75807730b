package graft.queries

import graft.{Q, Tables}
import graft.core.Hashing
import graft.operators.CorpusOps
import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked queries for the corpus-preparation operators that sit
  * between curation and the trainer (builder brief: large-scale
  * training-data pipeline ops): sequence packing, stratified sampling,
  * and vocabulary statistics over the `documents` fixture. All three
  * are deterministic by construction, so the DuckDB oracle recomputes
  * them value-for-value.
  */
object CorpusQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** 4 shards keeps every shard populated at sf0.001; production uses
    * thousands (one per output file). */
  private val PackShards = 4
  private val PackBudget = 512 // tokens per training sequence

  /** Per-language keep percentages for the stratified sample: downweight
    * the majority language, keep the rest whole (a mix-rebalance). */
  private val SampleRates = Map("en" -> 60, "es" -> 25)
  private val SampleDefault = 100

  /** Target language mix for corpus_mix_to_target — zh carries no
    * weight, demonstrating the drop-a-stratum path. */
  private val MixTargets =
    Map("en" -> 0.35, "es" -> 0.25, "de" -> 0.25, "fr" -> 0.15)
  private val MixCaseSql = MixTargets
    .map { case (k, v) => s"WHEN '$k' THEN $v" }.mkString(" ")

  /** Tokens kept per source by corpus_token_budget. */
  private val TokenBudget = 800L

  /** Literal probe queries for text_bm25_topk (terms drawn from the
    * fixture vocabulary) and its top-k cut. k1=1.2, b=0.75 — the
    * textbook defaults, inlined as 2.2/1.2/0.25/0.75 in the oracle. */
  private val Bm25Queries = Seq(
    "vector scan filter", "customer order join", "stream window agg")
  private val Bm25K = 10

  /** The literal-probe q CTE the three core BM25 rows share. */
  private def bm25LiteralQCte: String =
    s"""q(query_id, query_text) AS (VALUES
       |  (1, '${Bm25Queries(0)}'), (2, '${Bm25Queries(1)}'), (3, '${Bm25Queries(2)}'))""".stripMargin

  /** DuckDB replay of the full BM25 pipeline from raw text, as a CTE
    * chain ending in `ranked` — SHARED by text_bm25_topk (from-scratch
    * recompute), text_bm25_indexed (at-rest postings probe),
    * stream_bm25_incremental (streaming consumer; `docPred` mirrors a
    * source DELETE), text_bm25_negatives (`goldPred` mirrors the
    * exclusion frame) and the RRF/metrics composites (`qCte` swaps in
    * query-by-example probes): any surface diverging from the shared
    * recompute breaks its hash here. */
  private[queries] def bm25Ctes(docPred: String, qCte: String,
      goldPred: Option[String], dfCap: Option[Long] = None): String = {
    val exclSrc = goldPred
      .map(g => s"(SELECT * FROM agg WHERE NOT ($g))").getOrElse("agg")
    // the df-capped (corpus-scale) variant drops hot terms from
    // SCORING only — N/avgdl keep the full-corpus denominators
    val capPred = dfCap.map(c => s"WHERE df <= $c").getOrElse("")
    s"""$qCte,
       |d AS (SELECT doc_id, text FROM documents WHERE $docPred),
       |tok AS (SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM d),
       |tokf AS (SELECT doc_id, term FROM tok WHERE term <> ''),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tokf GROUP BY doc_id, term),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
       |stats AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM d) AS n_docs,
       |                 (SELECT CAST(count(*) AS DOUBLE) FROM tokf) AS total_tok),
       |qt AS (SELECT DISTINCT query_id, unnest(str_split(query_text, ' ')) AS term FROM q),
       |scored AS (
       |  SELECT qt.query_id, tf.doc_id,
       |         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
       |           (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / (total_tok / n_docs))) AS s
       |  FROM tf JOIN qt USING (term) JOIN df USING (term)
       |       JOIN dl USING (doc_id) CROSS JOIN stats $capPred),
       |agg AS (SELECT query_id, doc_id, round(sum(s), 6) AS bm25
       |        FROM scored GROUP BY query_id, doc_id),
       |ranked AS (SELECT query_id, doc_id, bm25,
       |                  row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rn
       |           FROM $exclSrc)""".stripMargin
  }

  /** Shared phrase-retrieval oracle over the positional postings:
    * token positions, phrase offsets, the anchor join, the
    * distinct-offset completeness test and the cut — integer math,
    * hash-exact. `docPred` mirrors source DELETEs so the batch row
    * (TRUE) and the streaming-consumer row cannot drift. */
  private[queries] def phraseOracleSqlFor(docPred: String): String =
    s"""WITH d AS (SELECT doc_id, text FROM documents WHERE $docPred),
       |rw AS (SELECT doc_id, list_filter(str_split(text, ' '), t -> t <> '') AS w
       |           FROM d),
       |tp AS (SELECT doc_id, unnest(list_transform(range(1, len(w) + 1),
       |         i -> {'p': i, 't': w[i]})) AS u FROM rw),
       |tok AS (SELECT doc_id, CAST(u.p AS BIGINT) AS p, u.t AS term FROM tp),
       |pq AS (SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'table hash'),
       |         (2, 'big order scan'), (3, 'table table')) v(query_id, phrase)),
       |qx AS (SELECT query_id, unnest(list_transform(
       |         range(1, len(str_split(phrase, ' ')) + 1),
       |         i -> {'o': i - 1, 't': str_split(phrase, ' ')[i]})) AS u FROM pq),
       |qoff AS (SELECT query_id, CAST(u.o AS BIGINT) AS off, u.t AS term FROM qx),
       |qlen AS (SELECT query_id, count(*) AS plen FROM qoff GROUP BY query_id),
       |cand AS (SELECT q.query_id, t.doc_id, q.off, t.p - q.off AS anchor
       |         FROM qoff q JOIN tok t USING (term) WHERE t.p - q.off >= 1),
       |anch AS (SELECT query_id, doc_id, anchor, count(DISTINCT off) AS hit
       |         FROM cand GROUP BY 1, 2, 3),
       |pc AS (SELECT a.query_id, a.doc_id, CAST(count(*) AS BIGINT) AS phrase_count
       |       FROM anch a JOIN qlen l USING (query_id)
       |       WHERE a.hit = l.plen GROUP BY 1, 2),
       |ranked AS (SELECT query_id, doc_id, phrase_count,
       |             row_number() OVER (PARTITION BY query_id
       |               ORDER BY phrase_count DESC, doc_id) AS rn
       |           FROM pc)
       |SELECT query_id, CAST(rn AS BIGINT) AS doc_rank, doc_id, phrase_count
       |FROM ranked WHERE rn <= 10""".stripMargin

  /** The literal phrase probes both phrase rows share (a bigram, a
    * trigram, and a duplicate-term phrase). */
  private[queries] def phraseProbes(s: SparkSession): DataFrame =
    s.createDataFrame(Seq(
      (1L, "table hash"), (2L, "big order scan"), (3L, "table table")))
      .toDF("query_id", "query_text")

  private def bm25TopSelect: String =
    s"""SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rn AS BIGINT) AS doc_rank,
       |       doc_id, bm25
       |FROM ranked WHERE rn <= $Bm25K""".stripMargin

  private[queries] def bm25OracleSqlFor(docPred: String): String =
    s"""WITH ${bm25Ctes(docPred, bm25LiteralQCte, None)}
       |$bm25TopSelect""".stripMargin

  private def bm25OracleSql: String = bm25OracleSqlFor("TRUE")

  /** The literal BM25 probe frame, shared by the three BM25 rows. */
  private[queries] def bm25Probes(s: SparkSession): DataFrame =
    s.createDataFrame(
      Bm25Queries.zipWithIndex.map { case (t, i) => (i + 1L, t) })
      .toDF("query_id", "query_text")

  private[queries] val Bm25TopK: Int = Bm25K

  /** corpus_trained_quality hyperparameters (shared Spark/oracle). */
  private val TqIters = 3
  private val TqLr = 2.0

  /** The trained-quality oracle: feature CTE + fixed-model labels,
    * then the GD trajectory UNROLLED one CTE pair (gradient, rounded
    * weight update) per iteration — generated from the same
    * (TqIters, TqLr) the Spark side trains with, so the two cannot
    * drift. */
  /** The fixed quality model's feature CTE (`f`), shared by the
    * trained-classifier trajectory replay and the quality-prior
    * ranking in the weighted fusion row. */
  private def qualityFeaturesCte: String =
    s"""f AS (
       |  SELECT doc_id,
       |    least(1.0, CAST(length(text) AS DOUBLE) / 500.0) AS x1,
       |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE) / length(text) AS x2,
       |    least(1.0, CAST(${OracleSnippets.hitsSql(TextOps.Stopwords)} AS DOUBLE)
       |                 / len(str_split(text, ' ')) * 4.0) AS x3,
       |    ${OracleSnippets.dupFractionSql} AS x4
       |  FROM documents)""".stripMargin

  private def trainedQualityOracleSql: String = {
    val wx = "b + w1*x1 + w2*x2 + w3*x3 + w4*x4"
    val iterCtes = (1 to TqIters).map { k =>
      s"""g$k AS (
         |  SELECT avg(e) AS g0, avg(e*x1) AS g1, avg(e*x2) AS g2,
         |         avg(e*x3) AS g3, avg(e*x4) AS g4
         |  FROM (SELECT 1.0/(1.0 + exp(-($wx))) - y AS e, x1, x2, x3, x4
         |        FROM fy CROSS JOIN w${k - 1})),
         |w$k AS (
         |  SELECT round(b - $TqLr*g0, 6) AS b, round(w1 - $TqLr*g1, 6) AS w1,
         |         round(w2 - $TqLr*g2, 6) AS w2, round(w3 - $TqLr*g3, 6) AS w3,
         |         round(w4 - $TqLr*g4, 6) AS w4
         |  FROM w${k - 1} CROSS JOIN g$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH $qualityFeaturesCte,
       |fy AS (
       |  SELECT *, CASE WHEN 1.0/(1.0 + exp(-(-1.0 + 2.0*x1 - 3.0*x2 + 2.0*x3 - 5.0*x4))) >= 0.5
       |                 THEN 1.0 ELSE 0.0 END AS y
       |  FROM f),
       |w0(b, w1, w2, w3, w4) AS (VALUES (0.0, 0.0, 0.0, 0.0, 0.0)),
       |$iterCtes
       |SELECT doc_id, round(1.0/(1.0 + exp(-($wx))), 6) AS score,
       |  CAST(CASE WHEN round(1.0/(1.0 + exp(-($wx))), 6) >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM fy CROSS JOIN w$TqIters""".stripMargin
  }

  /** Shards for the length-bucketed batcher's per-bucket windows —
    * 4 keeps every (bucket, shard) group populated at test SFs;
    * production sizes this with the cluster (see packLengthBucketed). */
  private val PackLenShards = 4

  /** DuckDB recomputation of the IDENTICAL count-min sketch (the hash
    * rows are md5-derived, so both engines build the same counter
    * table) and its heavy-hitter ranking — shared by the batch row and
    * the streaming drain (stream_cm_heavy_hitters): addition is
    * associative+commutative, so the streaming sketch cannot drift
    * from the batch one. */
  val cmHeavyHittersSql: String =
    s"""WITH toks AS (SELECT unnest(str_split(text, ' ')) AS token FROM documents),
       |tf AS (SELECT token, count(*) AS cnt FROM toks WHERE token <> '' GROUP BY token),
       |hr AS (SELECT d.range AS d, token, cnt,
       |         ${OracleSnippets.md5BucketSql("d.range || ':' || token", 256)} AS bucket
       |       FROM tf, range(0, 4) d),
       |sketch AS (SELECT d, bucket, sum(cnt) AS c FROM hr GROUP BY d, bucket),
       |est AS (SELECT hr.token, min(s.c) AS est_count
       |        FROM hr JOIN sketch s ON s.d = hr.d AND s.bucket = hr.bucket
       |        GROUP BY hr.token)
       |SELECT token, CAST(est_count AS BIGINT) AS est_count
       |FROM est ORDER BY est_count DESC, token LIMIT 50""".stripMargin

  val queries: Seq[Q] = Seq(

    // ── Concat-and-chunk sequence packing: shard by id hash, order by
    // id within shard, cut the concatenated token stream every 512
    // tokens; report per-chunk occupancy. first_doc pins that both
    // engines assign the SAME documents to the same chunk, not just the
    // same counts. ────────────────────────────────────────────────────
    Q(
      "pack_sequences",
      s"""WITH tok AS (
         |  SELECT doc_id,
         |         ${OracleSnippets.md5BucketSql("CAST(doc_id AS VARCHAR)", PackShards)} AS shard,
         |         len(str_split(text, ' ')) AS tok
         |  FROM documents),
         |cum AS (
         |  SELECT shard, doc_id, tok,
         |         sum(tok) OVER (PARTITION BY shard ORDER BY doc_id) - tok AS start_tok
         |  FROM tok)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |       CAST(floor(start_tok / ${PackBudget}.0) AS BIGINT) AS seq,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(tok) AS BIGINT) AS n_tokens,
         |       CAST(min(doc_id) AS BIGINT) AS first_doc
         |FROM cum GROUP BY shard, seq""".stripMargin) { (s, dir) =>
      val tok = docs(s, dir).select(
        col("doc_id"),
        Hashing.md5Bucket(col("doc_id"), PackShards).as("shard"),
        TextOps.tokenCount(col("text")).as("tok"))
      CorpusOps.packConcatChunk(tok, "doc_id", "tok", "shard", PackBudget)
        .groupBy("shard", "seq")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("tok")).as("n_tokens"),
          min(col("doc_id")).cast("long").as("first_doc"))
        .select(col("shard").cast("long").as("shard"), col("seq"),
          col("n_docs"), col("n_tokens"), col("first_doc"))
    },

    // ── Deterministic stratified sampling: per language tag, a
    // hash-bucket cut keeps rate% of documents; reports pre/post counts
    // per stratum (the fixture carries 5 languages, so the downweighted
    // en/es strata and the kept-whole rest all appear). Reruns keep the
    // identical subset (no RNG). ──────────────────────────────────────
    Q(
      "corpus_sample_stratified",
      s"""WITH rated AS (
         |  SELECT lang,
         |         ${OracleSnippets.md5BucketSql("CAST(doc_id AS VARCHAR)", 100)} AS bucket,
         |         CASE lang ${SampleRates.map { case (k, v) => s"WHEN '$k' THEN $v" }.mkString(" ")}
         |              ELSE $SampleDefault END AS rate
         |  FROM documents)
         |SELECT lang,
         |       CAST(count(*) AS BIGINT) AS n_total,
         |       CAST(count(CASE WHEN bucket < rate THEN 1 END) AS BIGINT) AS n_sampled
         |FROM rated GROUP BY lang""".stripMargin) { (s, dir) =>
      val keep = CorpusOps.stratumKeep(
        col("doc_id"), col("lang"), SampleRates, SampleDefault)
      docs(s, dir).groupBy("lang").agg(
        count(lit(1)).as("n_total"),
        count(when(keep, 1)).as("n_sampled"))
    },

    // ── Quality-weighted sampling: keep probability = the document's
    // quality score (keep iff bucket < floor(quality·100)), so better
    // documents survive proportionally more often — the deterministic
    // form of score-weighted corpus reweighting. The avg-quality uplift
    // of the kept set is part of the checked result. Both engines
    // compute quality in f64 with the same expression order, so the
    // floor boundary is bit-identical. ────────────────────────────────
    Q(
      "corpus_sample_quality_weighted",
      s"""WITH scored AS (
         |  SELECT doc_id, ${OracleSnippets.qualitySql} AS quality FROM documents),
         |b AS (SELECT doc_id, quality,
         |        ${OracleSnippets.md5BucketSql("CAST(doc_id AS VARCHAR)", 100)} AS bucket
         |      FROM scored)
         |SELECT CAST(count(*) AS BIGINT) AS n_total,
         |       CAST(count(CASE WHEN bucket < floor(quality * 100) THEN 1 END) AS BIGINT) AS n_kept,
         |       avg(quality) AS avg_quality_all,
         |       avg(CASE WHEN bucket < floor(quality * 100) THEN quality END) AS avg_quality_kept
         |FROM b""".stripMargin) { (s, dir) =>
      val scored = docs(s, dir).select(
        col("doc_id"), TextOps.qualityScore(col("text")).as("quality"))
      val keep = Hashing.md5Bucket(col("doc_id"), 100) < floor(col("quality") * 100)
      scored.agg(
        count(lit(1)).as("n_total"),
        count(when(keep, 1)).as("n_kept"),
        avg(col("quality")).as("avg_quality_all"),
        avg(when(keep, col("quality"))).as("avg_quality_kept"))
    },

    // ── Benchmark decontamination: corpus docs sharing any 8-gram with
    // an eval doc (the first 20 docs stand in for the benchmark; the
    // planted mutants embed a full benchmark text behind a changed
    // prefix, so n-gram overlap catches what exact/hash dedup cannot).
    // Both engines compute identical (doc, bench, n_shared) pairs. ────
    Q(
      "corpus_decontaminate",
      s"""WITH bench AS (
         |  SELECT doc_id AS bench_id, text FROM documents WHERE doc_id < 20),
         |corpus AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id >= 20
         |  UNION ALL
         |  SELECT doc_id + 500000, 'zzz intro words ' || text
         |  FROM documents WHERE doc_id < 20),
         |csh AS (SELECT doc_id, unnest(${OracleSnippets.wordShinglesSql(8)}) AS sh
         |        FROM corpus),
         |bsh AS (SELECT bench_id, unnest(${OracleSnippets.wordShinglesSql(8)}) AS sh
         |        FROM bench)
         |SELECT c.doc_id, b.bench_id, CAST(count(*) AS BIGINT) AS n_shared
         |FROM csh c JOIN bsh b ON b.sh = c.sh
         |GROUP BY c.doc_id, b.bench_id""".stripMargin) { (s, dir) =>
      val d = docs(s, dir).select("doc_id", "text")
      val bench = d.filter(col("doc_id") < 20)
        .select(col("doc_id").as("bench_id"), col("text"))
      val corpus = d.filter(col("doc_id") >= 20)
        .unionAll(d.filter(col("doc_id") < 20)
          .select((col("doc_id") + 500000).as("doc_id"),
            concat(lit("zzz intro words "), col("text")).as("text")))
      CorpusOps.contaminationPairs(corpus, bench, "doc_id", "bench_id", "text", n = 8)
    },

    // ── Overlapping chunking (RAG/window prep): fixed-size character
    // chunks with overlap, stride = size − overlap, chunk i starting at
    // offset i·stride — one row per chunk with its index and text. Pure
    // per-row explode: scan-side work, no exchange at all until a
    // downstream op needs one. ────────────────────────────────────────
    Q(
      "text_chunk_overlap",
      """SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |       substring(text, CAST(i AS INT) * 150 + 1, 200) AS chunk
        |FROM (SELECT doc_id, text,
        |        unnest(range(0, (length(text) - 1) // 150 + 1)) AS i
        |      FROM documents)""".stripMargin) { (s, dir) =>
      // empty-text guard: sequence(0, -1) would run DESCENDING and emit
      // a bogus chunk_idx=-1 row where the oracle's range(0, 0) is
      // empty (same pitfall Dedup.wordShingles documents); empty docs
      // get an empty array, which explode drops
      val nChunks = floor((length(col("text")) - 1) / 150).cast("long")
      docs(s, dir)
        .select(col("doc_id"), col("text"),
          explode(when(length(col("text")) > 0, sequence(lit(0L), nChunks))
            .otherwise(array().cast("array<bigint>"))).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          col("text").substr(col("chunk_idx").cast("int") * 150 + 1, lit(200)).as("chunk"))
    },

    // ── Corpus report: per-language doc counts, token totals, and the
    // token-length distribution (exact interpolated percentiles — the
    // numbers a corpus card publishes and a capacity plan needs; at
    // scale swap `percentile` for `percentile_approx` at the cost of
    // the oracle bind). One scan, one scalar-only exchange. ───────────
    Q(
      "corpus_stats",
      """SELECT lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS total_tokens,
        |  quantile_cont(len(str_split(text, ' ')), 0.5) AS p50_tokens,
        |  quantile_cont(len(str_split(text, ' ')), 0.9) AS p90_tokens,
        |  CAST(min(len(str_split(text, ' '))) AS BIGINT) AS min_tokens,
        |  CAST(max(len(str_split(text, ' '))) AS BIGINT) AS max_tokens
        |FROM documents GROUP BY lang""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .select(col("lang"), TextOps.tokenCount(col("text")).as("tok"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("tok").as("total_tokens"),
          expr("percentile(tok, 0.5)").as("p50_tokens"),
          expr("percentile(tok, 0.9)").as("p90_tokens"),
          min("tok").as("min_tokens"),
          max("tok").as("max_tokens"))
    },

    // ── Vocabulary statistics: top-50 whitespace tokens by total
    // occurrences (tie-broken by token so the cut is deterministic),
    // with document frequency. Plan shape: partial map-side agg on the
    // exploded tokens, then a TakeOrdered top-k — never a full sort of
    // the vocabulary. ──────────────────────────────────────────────────
    Q(
      "vocab_top_tokens",
      """SELECT token,
        |       CAST(count(*) AS BIGINT) AS n_total,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents)
        |WHERE token <> ''
        |GROUP BY token
        |ORDER BY n_total DESC, token
        |LIMIT 50""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .groupBy("token")
        .agg(count(lit(1)).as("n_total"), countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("n_total").desc, col("token").asc)
        .limit(50)
    },

    // ── Boilerplate line removal (CCNet/C4 line-dedup): lines recurring
    // across >= 5 docs are struck everywhere. The fixture text is
    // single-line, so both engines plant the same structure — a footer
    // on every doc (500 occurrences → removed), a header on even docs
    // (250 → removed), the doc's own text line surviving unless its
    // exact text recurs in >= 5 docs (the oracle recomputes whichever
    // is true). Every clean_text and removal count hash-checked. ──────
    Q(
      "corpus_boilerplate_lines",
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'HEADER NAV MENU' || chr(10) ELSE '' END
        |      || text || chr(10) || 'COPYRIGHT FOOTER 2026' AS txt
        |  FROM documents),
        |l AS (SELECT doc_id, generate_subscripts(str_split(txt, chr(10)), 1) AS idx,
        |        unnest(str_split(txt, chr(10))) AS line
        |      FROM t),
        |b AS (SELECT md5(line) AS lh FROM l
        |      GROUP BY 1 HAVING count(DISTINCT doc_id) >= 5),
        |k AS (SELECT doc_id, idx, line FROM l
        |      WHERE md5(line) NOT IN (SELECT lh FROM b)),
        |agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS clean_text,
        |          count(*) AS n_kept
        |        FROM k GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(agg.clean_text, '') AS clean_text,
        |  CAST(len(str_split(t.txt, chr(10))) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed
        |FROM t LEFT JOIN agg USING (doc_id)""".stripMargin) { (s, dir) =>
      val withLines = docs(s, dir).select(col("doc_id"),
        concat(
          when(col("doc_id") % 2 === 0, lit("HEADER NAV MENU\n")).otherwise(lit("")),
          col("text"), lit("\nCOPYRIGHT FOOTER 2026")).as("text"))
      CorpusOps.removeBoilerplateLines(withLines, "doc_id", "text", "\n", minDocs = 5)
    },

    // ── Deterministic epoch shuffle: a reproducible training-order
    // permutation per (seed, epoch) with no RNG state and no global
    // sort — shard = the md5 key's top byte, pos = rank within shard.
    // Every (doc, shard, pos) assignment is hash-checked. ──────────────
    Q(
      "corpus_epoch_order",
      """WITH k AS (SELECT doc_id, md5('7:2:' || doc_id) AS key FROM documents),
        |s AS (SELECT doc_id, key,
        |        CAST(CAST(('0x' || substring(key, 1, 2)) AS BIGINT) % 8 AS INTEGER) AS shard
        |      FROM k)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY key, doc_id) AS BIGINT) AS pos
        |FROM s""".stripMargin) { (s, dir) =>
      CorpusOps.epochOrder(docs(s, dir), "doc_id", seed = 7L, epoch = 2)
    },

    // ── Count-min heavy hitters: the bounded-memory (depth×width
    // counters, mergeable-by-addition) frequency summary, ranked by
    // estimate. The md5-derived hash rows are deterministic, so —
    // unlike the engine-seeded HLL/KLL rows — DuckDB recomputes the
    // IDENTICAL sketch and every estimate is hash-checked; the
    // one-sided est ≥ truth guarantee and the collision bound are
    // pinned in CorpusOpsSpec. ─────────────────────────────────────────
    Q(
      "vocab_cm_heavy_hitters",
      CorpusQueries.cmHeavyHittersSql) { (s, dir) =>
      CorpusOps.cmHeavyHitters(docs(s, dir), "text", k = 50)
    },

    // ── Vocabulary application: per-document out-of-vocabulary rate
    // against the corpus-derived top-50 vocabulary — the build-stats →
    // apply-stats two-phase pattern (tokenizer coverage / filtering by
    // OOV share). The tiny vocabulary broadcasts; the corpus token
    // stream anti-joins against it map-side, so the only exchange
    // aggregates scalar (doc_id, counts). ─────────────────────────────
    Q(
      "vocab_oov_rate",
      """WITH vocab AS (
        |  SELECT token FROM (
        |    SELECT token, count(*) AS n_total
        |    FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents)
        |    WHERE token <> ''
        |    GROUP BY token ORDER BY n_total DESC, token LIMIT 50)),
        |tok AS (
        |  SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents),
        |flags AS (
        |  SELECT t.doc_id,
        |         CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM tok t LEFT JOIN vocab v ON v.token = t.token
        |  WHERE t.token <> '')
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(oov) AS BIGINT) AS n_oov,
        |       CAST(sum(oov) AS DOUBLE) / count(*) AS oov_rate
        |FROM flags GROUP BY doc_id""".stripMargin) { (s, dir) =>
      val tok = docs(s, dir)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
      val vocab = tok.groupBy("token").agg(count(lit(1)).as("n_total"))
        .orderBy(col("n_total").desc, col("token").asc).limit(50)
        .select(col("token"), lit(1).as("in_vocab"))
      tok.join(broadcast(vocab), Seq("token"), "left")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          (col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))
    },

    // ── tf-idf keyword extraction: per-document top-3 terms by
    // tf·ln(N/df), scores rounded to 6 dp BEFORE the rank so the cut is
    // the same on both engines, rounding-ties broken by term. The full
    // (doc_id, term, score, rank) result is hash-checked — same terms,
    // same scores, same order. ─────────────────────────────────────────
    Q(
      "vocab_tfidf_top_terms",
      """WITH tok AS (
        |  SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf
        |       FROM tok WHERE term <> '' GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, tf.term AS term, round(tf * ln(n_docs / df), 6) AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, tfidf,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
        |  FROM scored)
        |SELECT doc_id, term, tfidf, CAST(rn AS BIGINT) AS term_rank
        |FROM ranked WHERE rn <= 3""".stripMargin) { (s, dir) =>
      CorpusOps.tfIdfTopTerms(docs(s, dir), "doc_id", "text", k = 3)
        .select(col("doc_id"), col("term"), col("tfidf"), col("term_rank"))
    },

    // ── TRAINED quality classifier: logistic regression fitted
    // in-engine by batch gradient descent (3 iterations, lr=2.0) to
    // labels from the FIXED quality model, then scoring the corpus
    // with the learned weights. The oracle replays the ENTIRE
    // training trajectory — per-iteration gradient aggregation and
    // the 6-dp weight rounding that pins the trajectory cross-engine
    // — as an unrolled CTE chain, then the same scoring projection.
    // A single gradient term drifting between engines flips every
    // downstream weight and the hash. ─────────────────────────────────
    Q("corpus_trained_quality", trainedQualityOracleSql) { (s, dir) =>
      val d = docs(s, dir)
      val w = CorpusOps.trainQualityWeights(d, "text",
        TextOps.qualityModelScore(col("text")) >= 0.5,
        iters = TqIters, lr = TqLr)
      CorpusOps.scoreTrainedQuality(d, "doc_id", "text", w)
    },

    // ── BM25 top-k retrieval: inverted-index probe of three literal
    // probe queries against the corpus; per-(query, doc) scores rounded
    // to 6 dp before the rank (same cross-engine cut discipline as
    // tf-idf / lm_score), rounding-ties broken by doc id. ─────────────
    Q(
      "text_bm25_topk",
      bm25OracleSql) { (s, dir) =>
      val probes = bm25Probes(s)
      CorpusOps.bm25TopK(docs(s, dir), "doc_id", "text", probes, k = Bm25K)
    },

    // ── BM25 against the AT-REST postings index: the corpus lands in a
    // logged table in two commits, the index tables are maintained off
    // its change feed (crash injected after the first postings batch —
    // the resume must not double-count a document), and the probe
    // touches only queried-term postings + the doc-count-sized doclens
    // table. Same literal probes, same k, and the SAME oracle SQL as
    // text_bm25_topk: indexed probe ≡ from-scratch recompute. ─────────
    Q(
      "text_bm25_indexed",
      bm25OracleSql) { (s, dir) =>
      import graft.operators.Bm25Index
      val d = docs(s, dir).select("doc_id", "text")
      val base = "/tmp/graft_state/bm25_index"
      val (srcT, postT, lensT) =
        (s"$base/src", s"$base/postings", s"$base/doclens")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      graft.store.CommitLog.append(d.filter(col("doc_id") % 2 === 0), srcT)
      graft.store.CommitLog.append(d.filter(col("doc_id") % 2 =!= 0), srcT)
      try Bm25Index.drainIntoIndex(s, srcT, d.schema, postT, lensT,
        "doc_id", "text", maxVersionsPerBatch = 1L,
        afterBatch = (n, _) =>
          if (n == 1) throw new RuntimeException("injected post-commit crash"))
      catch { case ex: RuntimeException
        if ex.getMessage.startsWith("injected") => () }
      Bm25Index.drainIntoIndex(s, srcT, d.schema, postT, lensT,
        "doc_id", "text", maxVersionsPerBatch = 1L)
      val probes = bm25Probes(s)
      Bm25Index.bm25TopKFromIndex(s, postT, lensT, "doc_id", probes, k = Bm25K)
    },

    // ── BM25 negatives (the classic lexical hard-negative source for
    // retriever training): top BM25 hits EXCLUDING known gold pairs,
    // the exclusion applied before the rank cut so a gold hit frees
    // its slot for a real negative. Gold is rule-generated (query q
    // claims docs with doc_id ≡ q mod 5) so DuckDB replays the
    // anti-filter exactly. ────────────────────────────────────────────
    Q(
      "text_bm25_negatives",
      s"""WITH ${bm25Ctes("TRUE", bm25LiteralQCte,
             Some("doc_id % 5 = query_id % 5"))}
         |$bm25TopSelect""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val probes = bm25Probes(s)
      val gold = d.select(col("doc_id").as("positive_id"))
        .crossJoin(broadcast(probes.select("query_id")))
        .filter(col("positive_id") % 5 === col("query_id") % 5)
      CorpusOps.bm25TopK(d, "doc_id", "text", probes, k = Bm25K,
        positives = Some(gold))
    },

    // ── BM25 at corpus QUERY scale (|Q| = N): every document retrieves
    // its own lexical top-10 — the mining-sweep shape, served by
    // bm25TopKLarge's shuffle-hash term joins (nothing query-derived
    // broadcasts) under the df ≤ 390 hot-term cap that bounds every
    // term key's postings side. The oracle replays the identical
    // df-capped scoring, so the cap is part of the checked semantics. ─
    Q(
      "text_bm25_large",
      s"""WITH ${bm25Ctes("TRUE",
             "q AS (SELECT doc_id AS query_id, text AS query_text FROM documents)",
             None, dfCap = Some(390L))}
         |$bm25TopSelect""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val probes = d.select(col("doc_id").as("query_id"),
        col("text").as("query_text"))
      CorpusOps.bm25TopKLarge(d, "doc_id", "text", probes, k = Bm25K,
        maxDf = 390L)
    },

    // ── PHRASE retrieval against the POSITIONAL postings index: a doc
    // matches at anchor a when every phrase term t_o has a posting
    // position a+o; score = number of complete anchors (overlapping
    // occurrences count; "table table" exercises duplicate-term
    // offsets), ranked desc with doc-id ties. The oracle replays token
    // positions, offsets, the anchor join, the distinct-offset
    // completeness test and the cut — integer math, hash-exact. ───────
    Q(
      "text_bm25_phrase",
      phraseOracleSqlFor("TRUE")) { (s, dir) =>
      import graft.operators.Bm25Index
      val d = docs(s, dir).select("doc_id", "text")
      val base = "/tmp/graft_state/bm25_phrase"
      val (srcT, postT, lensT) =
        (s"$base/src", s"$base/postings", s"$base/doclens")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      graft.store.CommitLog.append(d, srcT)
      Bm25Index.drainIntoIndex(s, srcT, d.schema, postT, lensT,
        "doc_id", "text")
      Bm25Index.phraseTopKFromIndex(s, postT, "doc_id", phraseProbes(s), k = 10)
    },

    // ── Hybrid retrieval by reciprocal-rank fusion: query-by-example
    // (the query IS a document — its text probes BM25, its embedding
    // probes cosine), both top-20 rankings fused as Σ 1/(60 + rank)
    // with a 6-dp round before the fused cut. The oracle replays both
    // rankings and the fusion; the document id space is shared with
    // embeddings by fixture construction (doc_id = vec_id). ───────────
    Q(
      "retrieval_rrf_hybrid",
      s"""WITH ${bm25Ctes("TRUE",
             "q AS (SELECT doc_id AS query_id, text AS query_text " +
               "FROM documents WHERE doc_id < 3)", None)},
         |bmr AS (SELECT query_id, doc_id, rn AS rank FROM ranked WHERE rn <= 20),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |qe AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
         |cos AS (
         |  SELECT qe.query_id, e.vec_id AS doc_id,
         |    row_number() OVER (PARTITION BY qe.query_id
         |      ORDER BY list_cosine_similarity(qe.qv, e.v) DESC, e.vec_id) AS rank
         |  FROM qe, e),
         |cosr AS (SELECT query_id, doc_id, rank FROM cos WHERE rank <= 20),
         |u AS (SELECT * FROM bmr UNION ALL SELECT * FROM cosr),
         |fused AS (SELECT query_id, doc_id,
         |            round(sum(1.0 / (60 + rank)), 6) AS rrf
         |          FROM u GROUP BY query_id, doc_id),
         |fr AS (SELECT query_id, doc_id, rrf,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY rrf DESC, doc_id) AS fused_rank
         |       FROM fused)
         |SELECT CAST(query_id AS BIGINT) AS query_id,
         |       CAST(fused_rank AS BIGINT) AS fused_rank, doc_id, rrf
         |FROM fr WHERE fused_rank <= 10""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val probes = d.filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"), col("text").as("query_text"))
      val bm = CorpusOps.bm25TopK(d, "doc_id", "text", probes, k = 20)
        .select(col("query_id"), col("doc_id"), col("doc_rank").as("rank"))
      val e = Tables.load(s, dir, "embeddings")
      val cos = graft.sim.Similarity
        .bruteForceTopK(e.filter(col("vec_id") < 3), e, k = 20)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      CorpusOps.rrfFuse(bm, cos, "doc_id", k = 10)
    },

    // ── Weighted three-way fusion: 0.6·BM25 + 0.3·cosine + 0.1·quality
    // PRIOR (query-independent — the fixed model's score ranks the
    // whole corpus once, top-20 contributing to every query). The
    // production hybrid-search shape: relevance from two retrievers,
    // tempered by a document-quality prior. Oracle replays all three
    // rankings and the weighted fusion. ──────────────────────────────
    Q(
      "retrieval_rrf_weighted",
      s"""WITH ${bm25Ctes("TRUE",
             "q AS (SELECT doc_id AS query_id, text AS query_text " +
               "FROM documents WHERE doc_id < 3)", None)},
         |bmr AS (SELECT query_id, doc_id, rn AS rank FROM ranked WHERE rn <= 20),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |qe AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
         |cos AS (
         |  SELECT qe.query_id, e.vec_id AS doc_id,
         |    row_number() OVER (PARTITION BY qe.query_id
         |      ORDER BY list_cosine_similarity(qe.qv, e.v) DESC, e.vec_id) AS rank
         |  FROM qe, e),
         |cosr AS (SELECT query_id, doc_id, rank FROM cos WHERE rank <= 20),
         |$qualityFeaturesCte,
         |qs AS (SELECT doc_id,
         |         round(1.0/(1.0 + exp(-(-1.0 + 2.0*x1 - 3.0*x2 + 2.0*x3 - 5.0*x4))), 6) AS qs
         |       FROM f),
         |prior0 AS (SELECT doc_id,
         |             row_number() OVER (ORDER BY qs DESC, doc_id) AS rank
         |           FROM qs),
         |prior AS (SELECT q.query_id, p.doc_id, p.rank
         |          FROM prior0 p CROSS JOIN q WHERE p.rank <= 20),
         |u AS (SELECT query_id, doc_id, 0.6 / (60 + rank) AS contrib FROM bmr
         |      UNION ALL SELECT query_id, doc_id, 0.3 / (60 + rank) FROM cosr
         |      UNION ALL SELECT query_id, doc_id, 0.1 / (60 + rank) FROM prior),
         |fused AS (SELECT query_id, doc_id, round(sum(contrib), 6) AS rrf
         |          FROM u GROUP BY query_id, doc_id),
         |fr AS (SELECT query_id, doc_id, rrf,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY rrf DESC, doc_id) AS fused_rank
         |       FROM fused)
         |SELECT CAST(query_id AS BIGINT) AS query_id,
         |       CAST(fused_rank AS BIGINT) AS fused_rank, doc_id, rrf
         |FROM fr WHERE fused_rank <= 10""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val probes = d.filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"), col("text").as("query_text"))
      val bm = CorpusOps.bm25TopK(d, "doc_id", "text", probes, k = 20)
        .select(col("query_id"), col("doc_id"), col("doc_rank").as("rank"))
      val e = Tables.load(s, dir, "embeddings")
      val cos = graft.sim.Similarity
        .bruteForceTopK(e.filter(col("vec_id") < 3), e, k = 20)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      // query-independent quality prior: the corpus ranked ONCE by the
      // fixed model (6-dp rounded before the rank — the cut discipline),
      // top-20 attached to every query id; the global cut is
      // TakeOrdered-shaped (orderBy.limit), never a full-corpus window
      val topQ = d.select(col("doc_id"),
          round(TextOps.qualityModelScore(col("text")), 6).as("qs"))
        .orderBy(col("qs").desc, col("doc_id")).limit(20)
      val pw = org.apache.spark.sql.expressions.Window
        .orderBy(col("qs").desc, col("doc_id"))
      val prior = topQ.withColumn("rank", row_number().over(pw).cast("long"))
        .crossJoin(broadcast(probes.select("query_id")))
        .select(col("query_id"), col("doc_id"), col("rank"))
      CorpusOps.rrfFuseWeighted(
        Seq(bm -> 0.6, cos -> 0.3, prior -> 0.1), "doc_id", k = 10)
    },

    // ── Ranked-retrieval eval (MRR@10, nDCG@10) against rule-generated
    // graded labels (rel 2 on ≡ mod 5, rel 1 on ≡ mod 3): the report a
    // retrieval stack publishes per eval query. The oracle replays the
    // BM25 ranking, the label rule, DCG, the ideal ordering, and both
    // metrics to 6 dp. ─────────────────────────────────────────────────
    Q(
      "retrieval_rank_metrics",
      s"""WITH ${bm25Ctes("TRUE", bm25LiteralQCte, None)},
         |cutq AS (SELECT query_id, doc_id, rn AS rank FROM ranked WHERE rn <= $Bm25K),
         |labp AS (
         |  SELECT q.query_id, d2.doc_id,
         |    CASE WHEN d2.doc_id % 5 = q.query_id % 5 THEN 2.0
         |         WHEN d2.doc_id % 3 = q.query_id % 3 THEN 1.0 END AS rel
         |  FROM documents d2, q
         |  WHERE d2.doc_id % 5 = q.query_id % 5 OR d2.doc_id % 3 = q.query_id % 3),
         |hits AS (SELECT c.query_id, c.rank, l.rel
         |         FROM cutq c JOIN labp l USING (query_id, doc_id)),
         |perq AS (SELECT query_id,
         |           min(CASE WHEN rel > 0 THEN rank END) AS first_hit,
         |           sum((pow(2.0, rel) - 1.0) / log2(rank + 1.0)) AS dcg
         |         FROM hits GROUP BY query_id),
         |ideal AS (
         |  SELECT query_id, sum((pow(2.0, rel) - 1.0) / log2(pos + 1.0)) AS idcg
         |  FROM (SELECT query_id, rel, doc_id,
         |          row_number() OVER (PARTITION BY query_id
         |            ORDER BY rel DESC, doc_id) AS pos
         |        FROM labp)
         |  WHERE pos <= $Bm25K GROUP BY query_id)
         |SELECT CAST(qs.query_id AS BIGINT) AS query_id,
         |  round(coalesce(1.0 / first_hit, 0.0), 6) AS rr,
         |  round(coalesce(dcg, 0.0), 6) AS dcg,
         |  round(coalesce(idcg, 0.0), 6) AS idcg,
         |  round(CASE WHEN coalesce(idcg, 0.0) > 0
         |             THEN coalesce(dcg, 0.0) / idcg ELSE 0.0 END, 6) AS ndcg
         |FROM (SELECT DISTINCT query_id FROM cutq) qs
         |LEFT JOIN perq USING (query_id) LEFT JOIN ideal USING (query_id)""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val probes = bm25Probes(s)
      val ranked = CorpusOps.bm25TopK(d, "doc_id", "text", probes, k = Bm25K)
        .select(col("query_id"), col("doc_id"), col("doc_rank").as("rank"))
      val labels = d.select("doc_id")
        .crossJoin(broadcast(probes.select("query_id")))
        .select(col("query_id"), col("doc_id"),
          when(col("doc_id") % 5 === col("query_id") % 5, 2.0)
            .when(col("doc_id") % 3 === col("query_id") % 3, 1.0).as("rel"))
        .filter(col("rel").isNotNull)
      CorpusOps.rankingMetrics(ranked, labels, "doc_id", k = Bm25K)
    },

    // ── DSIR selection (Data Selection via Importance Resampling):
    // hashed unigram+bigram distributions for the en-language target
    // sample and the whole raw corpus (256 md5 buckets, add-one
    // smoothed), every raw doc weighted by its summed log importance
    // ratio, deterministic top-60 cut. The oracle replays grams,
    // hashing, both distributions, the per-doc weights to 6 dp, and
    // the cut — the selection cannot drift from the math. ────────────
    Q(
      "corpus_dsir_select",
      s"""WITH ${OracleSnippets.dsirWeightsCtes(256)},
         |ranked AS (
         |  SELECT doc_id, dsir_weight,
         |    row_number() OVER (ORDER BY dsir_weight DESC, doc_id) AS rn
         |  FROM wts)
         |SELECT doc_id, CAST(rn AS BIGINT) AS sel_rank, dsir_weight
         |FROM ranked WHERE rn <= 60""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      CorpusOps.dsirSelect(d, d.filter(col("lang") === "en"),
        "doc_id", "text", k = 60, buckets = 256)
    },

    // ── DSIR at a CORPUS-FRACTION selection budget (k = 200 of the
    // 500-doc fixture, 40%): the distributed threshold cut — quantile
    // bracket + exact boundary resolution, no driver-merged TakeOrdered
    // — must select EXACTLY the same top-k-by-(weight desc, id) set as
    // the driver-k math; the oracle replays the weights off the shared
    // CTE chain and cuts by rank, so the bracket mechanics cannot leak
    // into the result. Membership + weight only — no global rank at
    // this regime (see dsirSelectThreshold's docstring). ──────────────
    Q(
      "corpus_dsir_select_threshold",
      s"""WITH ${OracleSnippets.dsirWeightsCtes(256)},
         |ranked AS (
         |  SELECT doc_id, dsir_weight,
         |    row_number() OVER (ORDER BY dsir_weight DESC, doc_id) AS rn
         |  FROM wts)
         |SELECT doc_id, dsir_weight FROM ranked WHERE rn <= 200""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      CorpusOps.dsirSelectThreshold(d, d.filter(col("lang") === "en"),
        "doc_id", "text", k = 200L, buckets = 256, relErr = 0.01)
    },

    // ── Corpus-trained bigram LM quality score (perplexity proxy): the
    // model counts come from the corpus itself, add-one smoothed over
    // the unigram vocabulary; per-document mean log-prob hash-checked
    // to 6 dp. Docs under 2 tokens have no bigrams → absent on BOTH
    // engines by construction. ─────────────────────────────────────────
    Q(
      "corpus_lm_score",
      """WITH tok AS (SELECT doc_id,
        |              list_filter(str_split(text, ' '), t -> t <> '') AS w
        |            FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(w)), i -> {'w1': w[i], 'w2': w[i+1]})) AS b
        |  FROM tok WHERE len(w) >= 2),
        |bgf AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
        |bc AS (SELECT w1, w2, count(*) AS c12 FROM bgf GROUP BY w1, w2),
        |uni AS (SELECT w1, count(*) AS c1
        |        FROM (SELECT unnest(w) AS w1 FROM tok) GROUP BY w1),
        |v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
        |k AS (SELECT doc_id, w1, w2, count(*) AS k FROM bgf GROUP BY doc_id, w1, w2)
        |SELECT doc_id,
        |       CAST(sum(k) AS BIGINT) AS n_bigrams,
        |       round(sum(k * ln((c12 + 1.0)/(c1 + v))) / sum(k), 6) AS lm_score
        |FROM k JOIN bc USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v
        |GROUP BY doc_id""".stripMargin) { (s, dir) =>
      CorpusOps.bigramLmScore(docs(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("n_bigrams"), col("lm_score"))
    },

    // ── Corpus manifest (the provenance/data-card record a training
    // build publishes): per-source doc counts, token totals, and an
    // order-insensitive content digest. TWO commutative combines of
    // the per-row md5-derived longs — xor AND sum mod 2^60 — because
    // either alone has a blind spot the pair closes: xor cancels
    // even-multiplicity changes ({X,X,Y} and {Z,Z,Y} xor alike), sum
    // alone is weaker against crafted value swaps; together any
    // added/removed/edited document flips at least one component.
    // Both combine map-side in any row order (no per-group sort or
    // collect at 100 TB), and both engines compute them bit-exactly —
    // integer arithmetic end to end (HashingSpec pins the cancellation
    // case). ──────────────────────────────────────────────────────────
    Q(
      "corpus_manifest",
      OracleSnippets.manifestSql) { (s, dir) =>
      docs(s, dir)
        .select(col("source"),
          TextOps.tokenCount(col("text")).as("tok"),
          Hashing.rowDigest(col("doc_id"), col("text")).as("h"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("tok").as("total_tokens"),
          expr("bit_xor(h)").as("content_digest"),
          // decimal sum: h < 2^60, so a long sum would overflow past
          // ~8 rows; decimal(38,0) holds ~10^18 rows' worth exactly
          (sum(col("h").cast("decimal(38,0)")) % lit(BigDecimal(1152921504606846976L)))
            .cast("long").as("content_digest_sum"))
    },

    // ── Quality-threshold calibration: production filters pick their
    // cutoff from a KEEP BUDGET, not a magic constant — here "keep the
    // top 60%", so the threshold is the corpus's 40th quality
    // percentile (exact interpolated percentile, proven engine-
    // bit-identical by corpus_stats), echoed with per-language kept
    // counts. The threshold is a 1-row aggregate broadcast back onto
    // the scored set — derive-then-apply, nothing collected. The scored
    // leaf is materialized ONCE (eager localCheckpoint, the
    // semanticDedup pattern): it feeds both the percentile aggregate
    // and the final group-by, and without the checkpoint the quality
    // kernel would re-run over the corpus for each consumer (the
    // diamond the curation pipeline pins away; PlanAuditSpec pins this
    // one too). ───────────────────────────────────────────────────────
    Q(
      "corpus_quality_calibrate",
      s"""WITH scored AS (
         |  SELECT doc_id, lang, ${OracleSnippets.qualitySql} AS quality FROM documents),
         |t AS (SELECT quantile_cont(quality, 0.4) AS thr FROM scored)
         |SELECT lang, round(thr, 6) AS threshold,
         |       CAST(count(*) AS BIGINT) AS n_total,
         |       CAST(count(CASE WHEN quality >= thr THEN 1 END) AS BIGINT) AS n_kept
         |FROM scored, t GROUP BY lang, thr""".stripMargin) { (s, dir) =>
      val scored = docs(s, dir).select(col("doc_id"), col("lang"),
        TextOps.qualityScore(col("text")).as("quality"))
        .localCheckpoint(true)
      val thr = scored.agg(expr("percentile(quality, 0.4)").as("thr"))
      scored.crossJoin(broadcast(thr))
        .groupBy(col("lang"), round(col("thr"), 6).as("threshold"))
        .agg(count(lit(1)).as("n_total"),
          count(when(col("quality") >= col("thr"), 1)).as("n_kept"))
        .select("lang", "threshold", "n_total", "n_kept")
    },

    // ── Snapshot diff (provenance): documents vs a planted second
    // version — some docs removed (id % 97 = 0), some edited
    // (id % 101 = 0), some added (+700000) — reported per source as
    // added/removed/changed/unchanged counts via content digests.
    // Text reduces to a scalar digest at the scan; the diff is an
    // id-keyed full-outer join. ───────────────────────────────────────
    Q(
      "corpus_snapshot_diff",
      s"""WITH b AS (
         |  SELECT doc_id, source,
         |         CASE WHEN doc_id % 101 = 0 THEN text || ' edited' ELSE text END AS text
         |  FROM documents WHERE doc_id % 97 <> 0
         |  UNION ALL
         |  SELECT doc_id + 700000, source, 'new doc ' || text
         |  FROM documents WHERE doc_id < 15),
         |ka AS (SELECT doc_id, source,
         |         ${OracleSnippets.rowDigestSql("doc_id", "text")} AS h FROM documents),
         |kb AS (SELECT doc_id, source,
         |         ${OracleSnippets.rowDigestSql("doc_id", "text")} AS h FROM b)
         |SELECT coalesce(ka.source, kb.source) AS source,
         |  CAST(count(CASE WHEN ka.doc_id IS NULL THEN 1 END) AS BIGINT) AS n_added,
         |  CAST(count(CASE WHEN kb.doc_id IS NULL THEN 1 END) AS BIGINT) AS n_removed,
         |  CAST(count(CASE WHEN ka.doc_id IS NOT NULL AND kb.doc_id IS NOT NULL
         |                   AND ka.h <> kb.h THEN 1 END) AS BIGINT) AS n_changed,
         |  CAST(count(CASE WHEN ka.h = kb.h THEN 1 END) AS BIGINT) AS n_unchanged
         |FROM ka FULL OUTER JOIN kb ON kb.doc_id = ka.doc_id
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      val a = docs(s, dir).select("doc_id", "source", "text")
      val b = a.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), col("source"),
          when(col("doc_id") % 101 === 0, concat(col("text"), lit(" edited")))
            .otherwise(col("text")).as("text"))
        .unionAll(a.filter(col("doc_id") < 15)
          .select((col("doc_id") + 700000).as("doc_id"), col("source"),
            concat(lit("new doc "), col("text")).as("text")))
      CorpusOps.snapshotDiff(a, b, "doc_id", "text", "source")
    },

    // ── Version diff through the commit log: the same added/removed/
    // changed/unchanged accounting, but the two snapshots are TIME
    // TRAVEL reads of one logged table (asOf v1 vs v2) rather than two
    // caller-supplied frames — "what changed in version 2" as a query.
    // The engine builds the logged table (half the docs at v1, the
    // rest appended at v2); the oracle recomputes the same split from
    // the documents table directly, so the row checks BOTH the diff
    // arithmetic and the log's version isolation (a wrong asOf read —
    // seeing v2 rows at v1 — shifts every count). ─────────────────────
    Q(
      "store_version_diff",
      """SELECT source,
        |  CAST(count(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS BIGINT) AS n_added,
        |  CAST(0 AS BIGINT) AS n_removed,
        |  CAST(0 AS BIGINT) AS n_changed,
        |  CAST(count(CASE WHEN doc_id % 2 = 0 THEN 1 END) AS BIGINT) AS n_unchanged
        |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.store.CommitLog
      val a = docs(s, dir).select("doc_id", "source", "text")
      val table = "/tmp/graft_state/version_diff_docs"
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(table), true)
      val v1 = CommitLog.append(a.filter(col("doc_id") % 2 === 0), table)
      val v2 = CommitLog.append(a.filter(col("doc_id") % 2 === 1), table)
      CorpusOps.snapshotDiff(
        CommitLog.read(s, table, a.schema, asOf = v1),
        CommitLog.read(s, table, a.schema, asOf = v2),
        "doc_id", "text", "source")
    },

    // ── The logged table through STANDARD Spark batch APIs: built with
    // `df.write.format("graftlog")`, read back with
    // `spark.read.format("graftlog")` plus a selective range predicate
    // that Catalyst pushes into the GraftLogFileIndex (log-stats file
    // skipping — the zero-I/O decision GraftLogBatchSpec proves against
    // destroyed file bytes; here the oracle proves the surviving plan
    // is value-exact). ────────────────────────────────────────────────
    Q(
      "store_batch_relation",
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  bit_xor(${OracleSnippets.rowDigestSql("doc_id", "text")}) AS content_digest
         |FROM documents WHERE doc_id BETWEEN 100 AND 299
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      val a = docs(s, dir).select("doc_id", "source", "text")
      val table = "/tmp/graft_state/batch_relation_docs"
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(table), true)
      a.filter(col("doc_id") % 2 === 0)
        .write.format("graftlog").mode("append").save(table)
      a.filter(col("doc_id") % 2 === 1)
        .write.format("graftlog").mode("append").save(table)
      s.read.format("graftlog").load(table)
        .where(col("doc_id").between(100, 299))
        .withColumn("h", Hashing.rowDigest(col("doc_id"), col("text")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(h)").as("content_digest"))
    },

    // ── SaveMode.Overwrite as an atomic logged replace + versionAsOf
    // time travel through the same reader: latest must be the
    // overwrite's slice, versionAsOf=1 the ORIGINAL first append —
    // replaced data stays reachable, per-snapshot digests prove both
    // value-exact. ────────────────────────────────────────────────────
    Q(
      "store_batch_overwrite_travel",
      s"""WITH snaps AS (
         |  SELECT 'latest' AS snap, doc_id, text
         |  FROM documents WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT 'v1', doc_id, text
         |  FROM documents WHERE doc_id % 2 = 0)
         |SELECT snap, CAST(count(*) AS BIGINT) AS n_docs,
         |  bit_xor(${OracleSnippets.rowDigestSql("doc_id", "text")}) AS content_digest
         |FROM snaps GROUP BY 1""".stripMargin) { (s, dir) =>
      val a = docs(s, dir).select("doc_id", "source", "text")
      val table = "/tmp/graft_state/batch_overwrite_docs"
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(table), true)
      a.filter(col("doc_id") % 2 === 0)
        .write.format("graftlog").mode("append").save(table)
      a.filter(col("doc_id") % 5 === 0)
        .write.format("graftlog").mode("overwrite").save(table)
      val latest = s.read.format("graftlog").load(table)
        .withColumn("snap", lit("latest"))
      val v1 = s.read.format("graftlog").option("versionAsOf", 1).load(table)
        .withColumn("snap", lit("v1"))
      latest.unionByName(v1)
        .withColumn("h", Hashing.rowDigest(col("doc_id"), col("text")))
        .groupBy("snap")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(h)").as("content_digest"))
    },

    // ── Change feed through the commit log: rows added per commit in
    // (since, latest], tagged with the commit version — the
    // incremental-consumption primitive (Delta CDF's insert feed). The
    // engine builds the logged table fresh (thirds of the docs at v1,
    // v2; a COMPACTION rewrite at v3; the last third at v4) and feeds
    // changesSince(v1): versions 2 and 4 must come back, version 3
    // must contribute NOTHING (rewrites are row-preserving by
    // protocol), and the per-(version, source) xor digest proves the
    // fed ROWS are value-exact, not just counted — a compaction row
    // leaking into the feed flips both the count and the digest. ──────
    Q(
      "store_change_feed",
      s"""WITH feed AS (
         |  SELECT 2 AS commit_version, doc_id, source, text
         |  FROM documents WHERE doc_id % 3 = 1
         |  UNION ALL
         |  SELECT 4, doc_id, source, text
         |  FROM documents WHERE doc_id % 3 = 2)
         |SELECT CAST(commit_version AS BIGINT) AS commit_version, source,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  bit_xor(${OracleSnippets.rowDigestSql("doc_id", "text")}) AS content_digest
         |FROM feed GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      import graft.store.CommitLog
      val a = docs(s, dir).select("doc_id", "source", "text")
      val table = "/tmp/graft_state/change_feed_docs"
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(table), true)
      val v1 = CommitLog.append(a.filter(col("doc_id") % 3 === 0), table)
      CommitLog.append(a.filter(col("doc_id") % 3 === 1), table)
      CommitLog.compact(s, table, targetBytes = Long.MaxValue)
      CommitLog.append(a.filter(col("doc_id") % 3 === 2), table)
      CommitLog.changesSince(s, table, sinceVersion = v1, a.schema)
        .withColumn("h", graft.core.Hashing.rowDigest(col("doc_id"), col("text")))
        .groupBy(col("_commit_version").as("commit_version"), col("source"))
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(h)").as("content_digest"))
    },

    // ── Declarative data-quality expectations: per-rule violation
    // accounting over the corpus in ONE aggregation job (rule
    // unsatisfied OR null ⇒ violation — an expectation you cannot
    // evaluate is not met; the NULL case is planted deterministically).
    // The enforcement twin (validatedAppend: clean rows → table,
    // violators → quarantine with rule names) is spec-covered under
    // both commit-log publishers. ─────────────────────────────────────
    Q(
      "corpus_expectations",
      """WITH d AS (
        |  SELECT doc_id, source, text,
        |    CASE WHEN doc_id % 11 = 0 THEN NULL ELSE lang END AS lang
        |  FROM documents),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN NOT coalesce(length(text) >= 20, FALSE)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v0,
        |    CAST(sum(CASE WHEN NOT coalesce(length(lang) = 2, FALSE)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        |    CAST(sum(CASE WHEN NOT coalesce(doc_id >= 0, FALSE)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v2,
        |    CAST(sum(CASE WHEN NOT coalesce(text NOT LIKE '%lorem%', FALSE)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v3
        |  FROM d)
        |SELECT r.rule, agg.n_rows, r.n_violations,
        |  CAST(r.n_violations AS DOUBLE) / agg.n_rows AS violation_rate
        |FROM agg, (
        |  SELECT 'text_min_len' AS rule, v0 AS n_violations FROM agg
        |  UNION ALL SELECT 'lang_iso2', v1 FROM agg
        |  UNION ALL SELECT 'id_nonneg', v2 FROM agg
        |  UNION ALL SELECT 'no_lorem', v3 FROM agg) r""".stripMargin) { (s, dir) =>
      import graft.store.Expectations, Expectations.Rule
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("text"),
        when(col("doc_id") % 11 === 0, lit(null)).otherwise(col("lang"))
          .as("lang"))
      Expectations.report(d, Seq(
        Rule("text_min_len", length(col("text")) >= 20),
        Rule("lang_iso2", length(col("lang")) === 2),
        Rule("id_nonneg", col("doc_id") >= 0),
        Rule("no_lorem", !col("text").contains("lorem"))))
    },

    // ── Incrementally-maintained curation view: the quality-scoring
    // stage kept current by consuming the source table's CHANGE FEED —
    // two source appends, a refresh after each, and the view must
    // equal the batch filter over the whole corpus (the materialized-
    // view invariant; shares stream_quality_filter's oracle shape).
    // The consumer checkpoint rides the view's own commit as a
    // `consumed=<v>` tag — one atomic publish carries rows AND
    // checkpoint, so no crash point double-applies an increment. ──────
    Q(
      "corpus_incremental_curation",
      s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_kept, avg(quality) AS avg_quality
         |FROM (SELECT lang, ${OracleSnippets.qualitySql} AS quality FROM documents)
         |WHERE quality >= 0.6 GROUP BY lang""".stripMargin) { (s, dir) =>
      import graft.store.{CommitLog, IncrementalView}
      val d = docs(s, dir).select("doc_id", "lang", "text")
      val src = "/tmp/graft_state/inc_curation_src"
      val view = "/tmp/graft_state/inc_curation_view"
      val fs = new org.apache.hadoop.fs.Path(src)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      Seq(src, view).foreach(p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), true))
      val score: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
        df => df.select(col("doc_id"), col("lang"),
            graft.text.TextOps.qualityScore(col("text")).as("quality"))
          .filter(col("quality") >= 0.6)
      CommitLog.append(d.filter(col("doc_id") % 2 === 0), src)
      IncrementalView.refresh(s, src, d.schema, view, score)
      CommitLog.append(d.filter(col("doc_id") % 2 === 1), src)
      IncrementalView.refresh(s, src, d.schema, view, score)
      CommitLog.read(s, view, score(d).schema)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"), avg(col("quality")).as("avg_quality"))
    },

    // ── Row-level delete through the commit log (DELETE WHERE — the
    // right-to-be-forgotten operation): the engine builds the logged
    // table in two appends, deletes a deterministic doc_id slice, and
    // reads the survivors; the oracle recomputes the complement from
    // the documents table directly. The per-source xor digest proves
    // the surviving ROWS are value-exact — a lost or duplicated row
    // from the copy-on-write file rewrite flips it. ───────────────────
    Q(
      "store_delete_where",
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  bit_xor(${OracleSnippets.rowDigestSql("doc_id", "text")}) AS content_digest
         |FROM documents WHERE NOT (doc_id % 5 = 2)
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.store.CommitLog
      val a = docs(s, dir).select("doc_id", "source", "text")
      val table = "/tmp/graft_state/delete_where_docs"
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(table), true)
      CommitLog.append(a.filter(col("doc_id") % 2 === 0), table)
      CommitLog.append(a.filter(col("doc_id") % 2 === 1), table)
      CommitLog.deleteWhere(s, table, a.schema, col("doc_id") % 5 === 2)
      CommitLog.read(s, table, a.schema)
        .withColumn("h", graft.core.Hashing.rowDigest(col("doc_id"), col("text")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(h)").as("content_digest"))
    },

    // ── FILE-DROP delete fast path: the slice to be deleted lands as
    // its OWN append (the cluster-aligned layout of a ts-clustered
    // table meeting a retention horizon), so every one of its files
    // fully matches the delete predicate — the engine PROVES the
    // delete dropped them as pure metadata (zero files added; the
    // survivor files keep their identity) before returning the
    // survivors. The oracle recomputes the complement; the xor digest
    // proves row-exactness through the metadata-only drop. ────────────
    Q(
      "store_delete_filedrop",
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  bit_xor(${OracleSnippets.rowDigestSql("doc_id", "text")}) AS content_digest
         |FROM documents WHERE NOT (doc_id % 5 = 2)
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.store.CommitLog
      val a = docs(s, dir).select("doc_id", "source", "text")
      val table = "/tmp/graft_state/delete_filedrop_docs"
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(table), true)
      CommitLog.append(a.filter(col("doc_id") % 5 === 2), table) // the aligned slice
      CommitLog.append(a.filter(col("doc_id") % 5 =!= 2), table) // the survivors
      val keepers = CommitLog.liveFiles(s, table)._2.toSet --
        CommitLog.liveFiles(s, table, asOf = 1)._2.toSet
      CommitLog.deleteWhere(s, table, a.schema, col("doc_id") % 5 === 2)
      require(CommitLog.liveFiles(s, table)._2.toSet == keepers,
        "a fully-matching file must DROP (metadata-only), never rewrite")
      CommitLog.read(s, table, a.schema)
        .withColumn("h", graft.core.Hashing.rowDigest(col("doc_id"), col("text")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(h)").as("content_digest"))
    },

    // ── REPLACE WHERE (predicate-scoped atomic overwrite — the
    // backfill verb): the engine re-lands the doc_id % 5 = 2 slice
    // with corrected text in ONE commit through the DSv2 catalog
    // surface (writeTo(...).overwrite(cond) → CommitLog.replaceWhere),
    // proving the untouched slice's files keep their identity and the
    // replaced slice's aligned files dropped without a rewrite. The
    // oracle computes the post-backfill corpus relationally (CASE on
    // the replaced slice); the digest catches a lost, duplicated, or
    // un-replaced row. ────────────────────────────────────────────────
    Q(
      "store_replace_where",
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  bit_xor(${OracleSnippets.rowDigestSql("doc_id",
               "CASE WHEN doc_id % 5 = 2 THEN text || ' [backfilled]' ELSE text END")}) AS content_digest
         |FROM documents
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.store.CommitLog
      val a = docs(s, dir).select("doc_id", "source", "text")
      val table = "/tmp/graft_state/replace_where_docs"
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(table), true)
      CommitLog.append(a.filter(col("doc_id") % 5 === 2), table) // to be replaced
      CommitLog.append(a.filter(col("doc_id") % 5 =!= 2), table) // untouched
      val keepers = CommitLog.liveFiles(s, table)._2.toSet --
        CommitLog.liveFiles(s, table, asOf = 1)._2.toSet
      val v0 = CommitLog.liveFiles(s, table)._1
      val corrected = a.filter(col("doc_id") % 5 === 2)
        .withColumn("text", concat(col("text"), lit(" [backfilled]")))
      CommitLog.replaceWhere(corrected, table, col("doc_id") % 5 === 2)
      val (v1, after) = CommitLog.liveFiles(s, table)
      require(v1 == v0 + 1, "replaceWhere must publish exactly ONE version")
      require(keepers.subsetOf(after.toSet),
        "replaceWhere rewrote untouched files")
      require(after.toSet.intersect(
        CommitLog.liveFiles(s, table, asOf = 1)._2.toSet).isEmpty,
        "replaceWhere kept a fully-replaced file live")
      CommitLog.read(s, table, a.schema)
        .withColumn("h", graft.core.Hashing.rowDigest(col("doc_id"), col("text")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(h)").as("content_digest"))
    },

    // ── LOG-CARRIED NULL COUNTS: the engine lands a logged table with
    // a nullable derived column, answers COUNT(*) + COUNT(col) as a
    // metadata fold (the query PROVES the plan is scan-free — zero
    // data files opened for either count), and recomputes COUNT(col)
    // through the scanning IS NOT NULL path, which prunes null-free
    // work from the same stats. The oracle recomputes all three
    // relationally; a wrong null count flips n_marked against
    // n_marked_scan. ──────────────────────────────────────────────────
    Q(
      "store_nullcount_agg",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(CASE WHEN doc_id % 3 = 0 THEN text END) AS BIGINT) AS n_marked,
        |  CAST(count(CASE WHEN doc_id % 3 = 0 THEN text END) AS BIGINT) AS n_marked_scan
        |FROM documents""".stripMargin) { (s, dir) =>
      import graft.store.CommitLog
      val a = docs(s, dir).select(col("doc_id"), col("source"),
        when(col("doc_id") % 3 === 0, col("text")).as("mark"))
      val table = "/tmp/graft_state/nullcount_docs"
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(table), true)
      CommitLog.append(a.filter(col("doc_id") % 2 === 0), table)
      CommitLog.append(a.filter(col("doc_id") % 2 === 1), table)
      val folded = s.read.format("graftlog").load(table)
        .agg(count(lit(1)).as("n_rows"), count(col("mark")).as("n_marked"))
      require(folded.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
      }.isEmpty, "COUNT(*) + COUNT(col) must fold to metadata, not scan")
      val scanned = s.read.format("graftlog").load(table)
        .filter(col("mark").isNotNull)
        .agg(count(lit(1)).as("n_marked_scan"))
      folded.crossJoin(scanned)
    },

    // ── RESTORE (rollback): the engine builds the corpus, deletes a
    // slice, appends noise, then RESTORES to the pre-delete version —
    // one commit, zero data movement (the query proves the restored
    // live set IS the historical file set). The oracle is simply the
    // whole documents table: a lost row, a resurrected delete, or a
    // leaked post-restore append flips count or digest. ───────────────
    Q(
      "store_restore",
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  bit_xor(${OracleSnippets.rowDigestSql("doc_id", "text")}) AS content_digest
         |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.store.CommitLog
      val a = docs(s, dir).select("doc_id", "source", "text")
      val table = "/tmp/graft_state/restore_docs"
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(table), true)
      CommitLog.append(a.filter(col("doc_id") % 2 === 0), table)
      CommitLog.append(a.filter(col("doc_id") % 2 === 1), table)   // v2: whole corpus
      val v2Files = CommitLog.liveFiles(s, table)._2.toSet
      CommitLog.deleteWhere(s, table, a.schema, col("doc_id") % 3 === 0)
      CommitLog.append(a.limit(5)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("source"),
          lit("noise").as("text")), table)
      CommitLog.restore(s, table, toVersion = 2)
      require(CommitLog.liveFiles(s, table)._2.toSet == v2Files,
        "restore must re-use the historical file set, not rewrite it")
      CommitLog.read(s, table, a.schema)
        .withColumn("h", graft.core.Hashing.rowDigest(col("doc_id"), col("text")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(h)").as("content_digest"))
    },

    // ── Log-carried CHECK constraints: the engine bootstraps the
    // logged table with even doc_ids, adds an enforcing constraint,
    // PROVES a violating append fails without committing (the odd
    // slice bounces), then appends more valid rows; the oracle is the
    // even-id complement — a leaked odd row or a lost valid row flips
    // count or digest. ────────────────────────────────────────────────
    Q(
      "store_constraints",
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  bit_xor(${OracleSnippets.rowDigestSql("doc_id", "text")}) AS content_digest
         |FROM documents WHERE doc_id % 2 = 0
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.store.CommitLog
      val a = docs(s, dir).select("doc_id", "source", "text")
      val table = "/tmp/graft_state/constraints_docs"
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(table), true)
      CommitLog.append(a.filter(col("doc_id") % 2 === 0 && col("doc_id") < 100), table)
      CommitLog.addConstraint(s, table, "even_ids", "doc_id % 2 = 0")
      val vBefore = CommitLog.liveFiles(s, table)._1
      val bounced =
        try { CommitLog.append(a.filter(col("doc_id") % 2 === 1), table); false }
        catch { case e: Exception
          if e.getMessage != null || e.getCause != null => true }
      require(bounced, "violating append was accepted")
      require(CommitLog.liveFiles(s, table)._1 == vBefore,
        "violating append still committed a version")
      CommitLog.append(a.filter(col("doc_id") % 2 === 0 && col("doc_id") >= 100), table)
      CommitLog.read(s, table, a.schema)
        .withColumn("h", graft.core.Hashing.rowDigest(col("doc_id"), col("text")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(h)").as("content_digest"))
    },

    // ── MERGE-ON-READ delete (DELETION VECTORS): same contract as
    // store_delete_where, but the delete writes one small position
    // vector and rewrites NO data file — the query additionally proves
    // the live file set is unchanged by the delete (a rewrite would
    // fail the assert) and that a subsequent OPTIMIZE absorbs the
    // vector without changing the answer. The oracle recomputes the
    // complement relationally; the xor digest proves the surviving
    // rows are value-exact through both the vectored read and the
    // absorbing compaction. ───────────────────────────────────────────
    Q(
      "store_delete_dv",
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  bit_xor(${OracleSnippets.rowDigestSql("doc_id", "text")}) AS content_digest
         |FROM documents WHERE NOT (doc_id % 5 = 3)
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.store.CommitLog
      val a = docs(s, dir).select("doc_id", "source", "text")
      val table = "/tmp/graft_state/delete_dv_docs"
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(table), true)
      CommitLog.append(a.filter(col("doc_id") % 2 === 0), table)
      CommitLog.append(a.filter(col("doc_id") % 2 === 1), table)
      val before = CommitLog.liveFiles(s, table)._2.toSet
      CommitLog.deleteWhere(s, table, a.schema, col("doc_id") % 5 === 3,
        deletionVectors = true)
      require(CommitLog.liveFiles(s, table)._2.toSet == before,
        "DV delete must not rewrite any data file")
      // absorb the vector (OPTIMIZE); the read after must agree with
      // the vectored read before — both feed the same aggregation
      val vectored = CommitLog.read(s, table, a.schema)
      CommitLog.compact(s, table, targetBytes = 64L * 1024 * 1024)
      val absorbed = CommitLog.read(s, table, a.schema)
      require(vectored.count() == absorbed.count(),
        "OPTIMIZE changed the visible row count")
      absorbed
        .withColumn("h", graft.core.Hashing.rowDigest(col("doc_id"), col("text")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(h)").as("content_digest"))
    },

    // ── COLUMN MAPPING (rename/drop evolution): the engine renames
    // `source` → `origin` (metadata-only — the query PROVES zero files
    // moved), merges an update slice BY THE NEW NAME (old-generation
    // files serve the renamed column through their stable physical
    // name), time-travels to the pre-rename snapshot under the OLD
    // name, then adds and drops a throwaway column (the drop burns its
    // physical name). The oracle replays the merge relationally and
    // emits the new column name — a mapping bug (wrong column served,
    // resurrection, lost rows) flips count or digest. ─────────────────
    Q(
      "store_rename_column",
      s"""WITH src AS (
         |  SELECT doc_id, source, text || ' v2' AS text
         |  FROM documents WHERE doc_id % 7 = 3),
         |merged AS (
         |  SELECT * FROM src
         |  UNION ALL
         |  SELECT doc_id, source, text FROM documents WHERE doc_id % 7 <> 3)
         |SELECT source AS origin, CAST(count(*) AS BIGINT) AS n_docs,
         |  bit_xor(${OracleSnippets.rowDigestSql("doc_id", "text")}) AS content_digest
         |FROM merged GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.store.CommitLog
      val a = docs(s, dir).select("doc_id", "source", "text")
      val table = "/tmp/graft_state/rename_column_docs"
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(table), true)
      CommitLog.append(a.filter(col("doc_id") % 2 === 0), table,
        mergeSchema = true)
      CommitLog.append(a.filter(col("doc_id") % 2 === 1), table)
      val before = CommitLog.liveFiles(s, table)._2.toSet
      val vRename = CommitLog.renameColumn(s, table, "source", "origin")
      require(CommitLog.liveFiles(s, table)._2.toSet == before,
        "rename must be metadata-only — it rewrote data files")
      val sch = CommitLog.schemaAt(s, table).get
      require(sch.fieldNames.toSeq == Seq("doc_id", "origin", "text"))
      // time travel BEFORE the rename still reads the historical name
      val hist = CommitLog.schemaAt(s, table, asOf = vRename - 1).get
      require(hist.fieldNames.contains("source"),
        "pre-rename snapshot lost the historical column name")
      require(CommitLog.read(s, table, hist, asOf = vRename - 1)
        .filter(col("source").isNotNull).limit(1).count() == 1)
      // merge BY THE NEW NAME — updates must land in pre-rename files
      CommitLog.merge(s, table, sch,
        a.filter(col("doc_id") % 7 === 3)
          .select(col("doc_id"), col("source").as("origin"),
            concat(col("text"), lit(" v2")).as("text")),
        Seq("doc_id"))
      // add-column then DROP it: metadata-only both ways, physical
      // name burned so the name can never resurrect stale bytes
      CommitLog.append(a.limit(0)
        .withColumn("note", lit(null).cast("string"))
        .select(col("doc_id"), col("source").as("origin"), col("text"),
          col("note")), table, mergeSchema = true)
      CommitLog.dropColumn(s, table, "note")
      require(CommitLog.burnedAt(s, table).contains("note"))
      CommitLog.read(s, table, CommitLog.schemaAt(s, table).get)
        .withColumn("h", graft.core.Hashing.rowDigest(col("doc_id"), col("text")))
        .groupBy("origin")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(h)").as("content_digest"))
    },

    // ── SHALLOW CLONE (zero-copy snapshot): the engine clones a
    // two-generation logged table through the SQL verb (`CREATE TABLE
    // … SHALLOW CLONE …`), PROVES not one data byte was copied (no
    // data files under the clone root), deletes a slice ON THE CLONE,
    // and proves the SOURCE still serves every original row — the
    // zero-copy dev/test-snapshot contract at 100 TB. The oracle
    // replays the clone's post-delete state relationally; the xor
    // digest catches a wrong-file reference, a resurrected deleted
    // row, or a clone mutation leaking into the source. ───────────────
    Q(
      "store_shallow_clone",
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  bit_xor(${OracleSnippets.rowDigestSql("doc_id", "text")}) AS content_digest
         |FROM documents WHERE NOT (doc_id % 3 = 1)
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.store.CommitLog
      val a = docs(s, dir).select("doc_id", "source", "text")
      val src = "/tmp/graft_state/clone_src_docs"
      val dst = "/tmp/graft_state/clone_dst_docs"
      val fs = new org.apache.hadoop.fs.Path(src)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(src), true)
      fs.delete(new org.apache.hadoop.fs.Path(dst), true)
      CommitLog.append(a.filter(col("doc_id") % 2 === 0), src, mergeSchema = true)
      CommitLog.append(a.filter(col("doc_id") % 2 === 1), src)
      graft.store.GraftSql.execute(s,
        s"CREATE TABLE graftlog.`$dst` SHALLOW CLONE graftlog.`$src`")
      // zero-copy: nothing but the log directory under the clone root
      val copied = fs.listStatus(new org.apache.hadoop.fs.Path(dst))
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      require(copied.isEmpty, s"clone copied data files: ${copied.toSeq}")
      val nSrc = CommitLog.read(s, src, CommitLog.tableSchema(s, src)).count()
      // mutate the CLONE; the SOURCE must not move
      CommitLog.deleteWhere(s, dst, CommitLog.tableSchema(s, dst),
        col("doc_id") % 3 === 1)
      require(CommitLog.read(s, src, CommitLog.tableSchema(s, src))
        .count() == nSrc, "clone mutation leaked into the source")
      CommitLog.read(s, dst, CommitLog.tableSchema(s, dst))
        .withColumn("h", graft.core.Hashing.rowDigest(col("doc_id"), col("text")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(h)").as("content_digest"))
    },

    // ── METADATA-ONLY aggregates (GraftStatsAggRule): an unfiltered
    // COUNT(*)/MIN/MAX over a logged snapshot answers from the commit
    // log's per-file stats — the query PROVES the optimized plan holds
    // no scan at all (zero data files opened; at 100 TB, "how many
    // rows" becomes a driver-side ledger fold). Long AND double
    // extremes are exercised; the oracle recomputes the same
    // aggregates relationally, so a stats-fold bug (missed file,
    // wrong bound, bad cross-generation compare) flips a value. ───────
    Q(
      "store_stats_agg",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(doc_id) AS BIGINT) AS lo_id,
        |  CAST(max(doc_id) AS BIGINT) AS hi_id,
        |  min(CAST(doc_id AS DOUBLE) * 2.5 + 1.0) AS lo_w,
        |  max(CAST(doc_id AS DOUBLE) * 2.5 + 1.0) AS hi_w
        |FROM documents""".stripMargin) { (s, dir) =>
      import graft.store.CommitLog
      val a = docs(s, dir)
        .select(col("doc_id"), (col("doc_id") * 2.5 + 1.0).as("w"))
      val table = "/tmp/graft_state/stats_agg_docs"
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(table), true)
      // two commits → two stats generations folded together
      CommitLog.append(a.filter(col("doc_id") % 2 === 0), table)
      CommitLog.append(a.filter(col("doc_id") % 2 === 1), table)
      // through the FORMAT reader (its GraftLogFileIndex carries the
      // log stats the rewrite folds; CommitLog.read's scan of this
      // DV-free, unmapped table would fold the same way)
      val agg = s.read.format("graftlog").load(table)
        .agg(count(lit(1)).as("n_rows"),
          min("doc_id").as("lo_id"), max("doc_id").as("hi_id"),
          min("w").as("lo_w"), max("w").as("hi_w"))
      require(agg.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
      }.isEmpty, "stats aggregate still scans — the metadata rewrite did not fire")
      agg
    },

    // ── METADATA-ONLY COUNT over a MERGE-ON-READ snapshot: after a
    // deletion-vector delete, COUNT(*) answers as Σ log-carried file
    // row counts − Σ log-carried vector position counts (the
    // `*file|dvfile|n` commit suffix) — no data file AND no vector
    // file opened. At 100 TB a sparse-delete-heavy table answers "how
    // many rows" from the ledger alone. The engine PROVES the plan is
    // scan-free; the oracle recomputes the post-delete count
    // relationally, so a wrong or stale vector count flips the row. ───
    Q(
      "store_stats_agg_mor",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows
        |FROM documents WHERE NOT (doc_id % 7 = 3)""".stripMargin) { (s, dir) =>
      import graft.store.CommitLog
      val a = docs(s, dir).select("doc_id", "text")
      val table = "/tmp/graft_state/stats_agg_mor_docs"
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(table), true)
      CommitLog.append(a.filter(col("doc_id") % 2 === 0), table, mergeSchema = true)
      CommitLog.append(a.filter(col("doc_id") % 2 === 1), table)
      CommitLog.deleteWhere(s, table, CommitLog.tableSchema(s, table),
        col("doc_id") % 7 === 3, deletionVectors = true)
      val agg = s.read.format("graftlog").load(table)
        .agg(count(lit(1)).as("n_rows"))
      require(agg.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
      }.isEmpty,
        "MOR count still scans — the vector-count metadata rewrite did not fire")
      agg
    },

    // ── AUTO-COMPACTION (small-file self-healing): the engine stamps
    // the graft.autoCompact table property, lands the documents table
    // as 8 streaming-shaped single-file appends, and PROVES the file
    // census collapsed behind the writes (live files strictly below
    // the append count) while every row survived — the self-
    // maintaining micro-batch sink at 100 TB, where the alternative is
    // scan fan-out growing with every 30-second batch. The trigger is
    // metadata-only (log-carried per-file sizes — no listing per
    // append). The oracle recomputes the content digest relationally;
    // a row lost or duplicated by the follow-on rewrite flips it. ─────
    Q(
      "store_auto_compact",
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  bit_xor(${OracleSnippets.rowDigestSql("doc_id", "text")}) AS content_digest
         |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.store.CommitLog
      val a = docs(s, dir).select("doc_id", "source", "text")
      val table = "/tmp/graft_state/auto_compact_docs"
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(table), true)
      CommitLog.append(a.filter(col("doc_id") % 8 === 0).repartition(1),
        table, mergeSchema = true)
      graft.store.GraftSql.execute(s,
        s"ALTER TABLE graftlog.`$table` SET TBLPROPERTIES (" +
          "'graft.autoCompact'='true'," +
          "'graft.autoCompact.smallFileBytes'='1048576'," +
          "'graft.autoCompact.minFiles'='6'," +
          "'graft.autoCompact.targetBytes'='1073741824')")
      (1 to 7).foreach(r => CommitLog.append(
        a.filter(col("doc_id") % 8 === r).repartition(1), table))
      val live = CommitLog.liveFiles(s, table)._2
      require(live.size < 8,
        s"auto-compaction never fired: ${live.size} live files after 8 appends")
      CommitLog.read(s, table, CommitLog.tableSchema(s, table))
        .withColumn("h", graft.core.Hashing.rowDigest(col("doc_id"), col("text")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(h)").as("content_digest"))
    },

    // ── Writer-side clustering via the graft.clusterBy table property
    // (liquid-clustering shape): one scrambled append lands as FOUR
    // disjoint doc_id ranges — proven from the log stats alone — so
    // id-range pruning works on fresh data with no OPTIMIZE in
    // between. The oracle recomputes the table content relationally;
    // a row lost or doubled by the re-layout flips the digest. ────────
    Q(
      "store_clustered_append",
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  bit_xor(${OracleSnippets.rowDigestSql("doc_id", "text")}) AS content_digest
         |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.store.CommitLog
      val a = docs(s, dir).select("doc_id", "source", "text")
      val table = "/tmp/graft_state/clustered_docs"
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(table), true)
      graft.store.GraftSql.execute(s,
        s"ALTER TABLE graftlog.`$table` SET TBLPROPERTIES (" +
          "'graft.clusterBy'='doc_id','graft.clusterBy.files'='4')")
      // scrambled input partitioning: the property, not the caller's
      // layout, must produce the clustering
      CommitLog.append(a.repartition(8, pmod(col("doc_id") * 2654435761L,
        lit(97))), table, mergeSchema = true)
      val (_, withStats) = CommitLog.liveFilesWithStats(s, table)
      require(withStats.size == 4,
        s"clusterBy.files=4 expected 4 files, got ${withStats.size}")
      val ranges = withStats.map { case (n, js) =>
        val b = CommitLog.parseStatsJson(
          js.getOrElse(sys.error(s"no stats on $n")))("doc_id")
        (b._1.asInstanceOf[Long], b._2.asInstanceOf[Long])
      }.sortBy(_._1)
      require(ranges.sliding(2).forall {
        case Seq((_, aMax), (bMin, _)) => aMax < bMin
        case _ => true
      }, s"clustered append produced overlapping file ranges: $ranges")
      CommitLog.read(s, table, CommitLog.tableSchema(s, table))
        .withColumn("h", graft.core.Hashing.rowDigest(col("doc_id"), col("text")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(h)").as("content_digest"))
    },

    // ── Generated columns (graft.generated.<col> property): the
    // append OMITS the column, the engine computes and records it;
    // row-level DML then predicates on the stored derived values. The
    // oracle recomputes the generation expression and the post-delete
    // state relationally — a mis-generated or stale value flips the
    // per-bucket digest. ──────────────────────────────────────────────
    Q(
      "store_generated_column",
      s"""SELECT CAST(doc_id % 7 AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  bit_xor(${OracleSnippets.rowDigestSql("doc_id", "text")}) AS content_digest
         |FROM documents WHERE NOT (doc_id % 7 = 3)
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.store.CommitLog
      val a = docs(s, dir).select("doc_id", "source", "text")
      val table = "/tmp/graft_state/generated_docs"
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(table), true)
      graft.store.GraftSql.execute(s,
        s"ALTER TABLE graftlog.`$table` SET TBLPROPERTIES (" +
          "'graft.generated.bucket'='CAST(doc_id % 7 AS BIGINT)')")
      CommitLog.append(a, table, mergeSchema = true) // no bucket column
      require(CommitLog.schemaAt(s, table)
        .exists(_.fieldNames.contains("bucket")),
        "creating append must record the generated column in the ledger")
      CommitLog.deleteWhere(s, table, CommitLog.tableSchema(s, table),
        col("bucket") === 3L)
      CommitLog.read(s, table, CommitLog.tableSchema(s, table))
        .withColumn("h", graft.core.Hashing.rowDigest(col("doc_id"), col("text")))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(h)").as("content_digest"))
    },

    // ── CONVERT TO GRAFT (in-place adoption): the engine writes the
    // documents table as PLAIN parquet (two generations), adopts it
    // with one metadata commit — PROVES zero files moved — and then
    // runs the full protocol against the adopted table: a metadata-
    // only COUNT straight after adoption and a copy-on-write DELETE.
    // At 100 TB this is the adoption story: the alternative is
    // rewriting the dataset to gain the log. The oracle recomputes
    // the post-delete state relationally; a file lost or doubled by
    // the adoption flips the digest. ─────────────────────────────────
    Q(
      "store_convert",
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  bit_xor(${OracleSnippets.rowDigestSql("doc_id", "text")}) AS content_digest
         |FROM documents WHERE NOT (doc_id % 5 = 2)
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.store.CommitLog
      val a = docs(s, dir).select("doc_id", "source", "text")
      val table = "/tmp/graft_state/convert_docs"
      val hp = new org.apache.hadoop.fs.Path(table)
      val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(hp, true)
      a.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(table)
      a.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(table)
      def files = fs.listStatus(hp).collect {
        case st if st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith(".") => st.getPath.getName
      }.toSet
      val before = files
      require(CommitLog.convertParquet(s, table) == 1L, "convert must be version 1")
      require(files == before, "adoption moved or rewrote files")
      // metadata-only COUNT works from the first post-convert query
      val n = s.read.format("graftlog").load(table).agg(count(lit(1)).as("n"))
      require(n.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
      }.isEmpty, "adopted stats did not feed the metadata aggregate")
      // and so does row-level DML
      CommitLog.deleteWhere(s, table, CommitLog.tableSchema(s, table),
        col("doc_id") % 5 === 2)
      CommitLog.read(s, table, CommitLog.tableSchema(s, table))
        .withColumn("h", graft.core.Hashing.rowDigest(col("doc_id"), col("text")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(h)").as("content_digest"))
    },

    // ── MAINTENANCE VERBS through PLAIN spark.sql (the injected
    // parser): OPTIMIZE compacts two generations into one file,
    // DESCRIBE HISTORY proves the commit trail, RESTORE rolls back to
    // version 1 — all through the default SQL entry point, no router
    // call. The engine requires each verb's side effect (file census,
    // history rows); the oracle replays the RESTORED state (the first
    // append's slice) relationally, so a verb that silently failed or
    // restored the wrong version flips the digest. ────────────────────
    Q(
      "sql_parser_verbs",
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  bit_xor(${OracleSnippets.rowDigestSql("doc_id", "text")}) AS content_digest
         |FROM documents WHERE doc_id % 2 = 0
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.store.CommitLog
      val a = docs(s, dir).select("doc_id", "source", "text")
      val table = "/tmp/graft_state/sql_parser_docs"
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(table), true)
      CommitLog.append(a.filter(col("doc_id") % 2 === 0), table, mergeSchema = true)
      CommitLog.append(a.filter(col("doc_id") % 2 === 1), table)
      s.sql(s"OPTIMIZE graftlog.`$table`")
      require(CommitLog.liveFiles(s, table)._2.size == 1,
        "spark.sql OPTIMIZE did not compact")
      val hist = s.sql(s"DESCRIBE HISTORY graftlog.`$table`")
        .select("version").collect().map(_.getLong(0)).toSet
      require(hist == Set(1L, 2L, 3L), s"history through spark.sql: $hist")
      s.sql(s"RESTORE graftlog.`$table` TO VERSION AS OF 1")
      CommitLog.read(s, table, CommitLog.tableSchema(s, table))
        .withColumn("h", graft.core.Hashing.rowDigest(col("doc_id"), col("text")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(h)").as("content_digest"))
    },

    // ── Keyed upsert (MERGE) through the commit log: the engine builds
    // the logged table in two appends, merges a source that UPDATES a
    // doc_id slice (text rewritten) and INSERTS new ids, and reads the
    // result; the oracle replays the same upsert relationally (source
    // wins on key match, target rows survive otherwise). The per-source
    // xor digest proves the merged ROWS are value-exact — a resurrected
    // pre-image, lost neighbor row from the copy-on-write rewrite, or
    // double-inserted source row flips it. ────────────────────────────
    Q(
      "store_merge_upsert",
      s"""WITH src AS (
         |  SELECT doc_id, source, text || ' v2' AS text
         |  FROM documents WHERE doc_id % 7 = 3
         |  UNION ALL
         |  SELECT doc_id + 900000, source, 'merged doc ' || text
         |  FROM documents WHERE doc_id < 20),
         |merged AS (
         |  SELECT * FROM src
         |  UNION ALL
         |  SELECT doc_id, source, text FROM documents
         |  WHERE doc_id NOT IN (SELECT doc_id FROM src))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  bit_xor(${OracleSnippets.rowDigestSql("doc_id", "text")}) AS content_digest
         |FROM merged GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.store.CommitLog
      val a = docs(s, dir).select("doc_id", "source", "text")
      val table = "/tmp/graft_state/merge_upsert_docs"
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(table), true)
      CommitLog.append(a.filter(col("doc_id") % 2 === 0), table)
      CommitLog.append(a.filter(col("doc_id") % 2 === 1), table)
      val src = a.filter(col("doc_id") % 7 === 3)
        .select(col("doc_id"), col("source"),
          concat(col("text"), lit(" v2")).as("text"))
        .unionAll(a.filter(col("doc_id") < 20)
          .select((col("doc_id") + 900000).as("doc_id"), col("source"),
            concat(lit("merged doc "), col("text")).as("text")))
      CommitLog.merge(s, table, a.schema, src, Seq("doc_id"))
      CommitLog.read(s, table, a.schema)
        .withColumn("h", graft.core.Hashing.rowDigest(col("doc_id"), col("text")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(h)").as("content_digest"))
    },

    // ── The full MERGE clause grammar (conditional matched delete,
    // partial-column update, insert, by-source delete) through the
    // clause builder: the engine applies "delete matched rows whose
    // source text flags them, update ONLY the text column otherwise,
    // insert unmatched source rows, retire a target-only id slice"; the
    // oracle replays the identical clause semantics relationally. The
    // digest proves clause PRECEDENCE too — a delete row surviving as
    // an update (or vice versa) flips it. ─────────────────────────────
    Q(
      "store_merge_clauses",
      s"""WITH src AS (
         |  SELECT doc_id, source,
         |    CASE WHEN doc_id % 12 = 0 THEN 'drop' ELSE 'v2 ' || text END AS text
         |  FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id + 700000, source, 'new ' || text
         |  FROM documents WHERE doc_id < 15),
         |merged AS (
         |  SELECT t.doc_id, t.source,
         |    CASE WHEN s.doc_id IS NOT NULL THEN s.text ELSE t.text END AS text
         |  FROM documents t LEFT JOIN src s USING (doc_id)
         |  WHERE NOT (s.doc_id IS NOT NULL AND s.text = 'drop')
         |    AND NOT (s.doc_id IS NULL AND t.doc_id % 11 = 7)
         |  UNION ALL
         |  SELECT doc_id, source, text FROM src
         |  WHERE doc_id NOT IN (SELECT doc_id FROM documents))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  bit_xor(${OracleSnippets.rowDigestSql("doc_id", "text")}) AS content_digest
         |FROM merged GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.store.{CommitLog, MergeClauses}
      val a = docs(s, dir).select("doc_id", "source", "text")
      val table = "/tmp/graft_state/merge_clauses_docs"
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(table), true)
      CommitLog.append(a.filter(col("doc_id") % 2 === 0), table)
      CommitLog.append(a.filter(col("doc_id") % 2 === 1), table)
      val src = a.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("source"),
          when(col("doc_id") % 12 === 0, lit("drop"))
            .otherwise(concat(lit("v2 "), col("text"))).as("text"))
        .unionAll(a.filter(col("doc_id") < 15)
          .select((col("doc_id") + 700000).as("doc_id"), col("source"),
            concat(lit("new "), col("text")).as("text")))
      MergeClauses.into(s, table, a.schema, src, Seq("doc_id"))
        .whenMatchedDelete(Some(col(s"${MergeClauses.SrcPrefix}text") === "drop"))
        .whenMatchedUpdate(Seq("text"))
        .whenNotMatchedInsert()
        .whenNotMatchedBySourceDelete(Some(col("doc_id") % 11 === 7))
        .execute()
      CommitLog.read(s, table, a.schema)
        .withColumn("h", graft.core.Hashing.rowDigest(col("doc_id"), col("text")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(h)").as("content_digest"))
    },

    // ── Delete-aware change feed: the feed crosses a DELETE WHERE and
    // hands consumers the retracted pre-images as `delete` rows (CDC
    // change files committed atomically with the swap) instead of
    // refusing the range — Delta CDF semantics. Version/type/source
    // counts with xor digests prove every fed row value-exact on both
    // sides of the delete. ────────────────────────────────────────────
    Q(
      "store_change_feed_delete",
      s"""WITH feed AS (
         |  SELECT 2 AS commit_version, 'insert' AS change_type, doc_id, source, text
         |  FROM documents WHERE doc_id % 2 = 1
         |  UNION ALL
         |  SELECT 3, 'delete', doc_id, source, text
         |  FROM documents WHERE doc_id % 5 = 2
         |  UNION ALL
         |  SELECT 4, 'insert', doc_id + 800000, source, 'late ' || text
         |  FROM documents WHERE doc_id < 10)
         |SELECT CAST(commit_version AS BIGINT) AS commit_version,
         |  change_type, source,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  bit_xor(${OracleSnippets.rowDigestSql("doc_id", "text")}) AS content_digest
         |FROM feed GROUP BY 1, 2, 3""".stripMargin) { (s, dir) =>
      import graft.store.CommitLog
      val a = docs(s, dir).select("doc_id", "source", "text")
      val table = "/tmp/graft_state/change_feed_delete_docs"
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(table), true)
      val v1 = CommitLog.append(a.filter(col("doc_id") % 2 === 0), table)
      CommitLog.append(a.filter(col("doc_id") % 2 === 1), table)
      CommitLog.deleteWhere(s, table, a.schema, col("doc_id") % 5 === 2)
      CommitLog.append(a.filter(col("doc_id") < 10)
        .select((col("doc_id") + 800000).as("doc_id"), col("source"),
          concat(lit("late "), col("text")).as("text")), table)
      CommitLog.changesSince(s, table, sinceVersion = v1, a.schema)
        .withColumn("h", graft.core.Hashing.rowDigest(col("doc_id"), col("text")))
        .groupBy(col("_commit_version").as("commit_version"),
          col("_change_type").as("change_type"), col("source"))
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(h)").as("content_digest"))
    },

    // ── Column-level table profile: null rates, exact cardinality,
    // native-typed min/max, mean rendered width — the QA pass run on
    // every corpus drop, as ONE aggregation job (row-per-column shape
    // is a driver-side unpivot of the 1-row aggregate). A derived
    // column with CASE-planted nulls exercises the null accounting the
    // all-populated fixture columns cannot. ───────────────────────────
    Q(
      "profile_table",
      """WITH d AS (
        |  SELECT doc_id, source, text,
        |    CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS maybe_lang
        |  FROM documents),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM d)
        |SELECT p.column_name, n.n_rows, p.n_nulls, p.n_distinct,
        |       p.min_value, p.max_value, p.avg_len
        |FROM n, (
        |  SELECT 'doc_id' AS column_name,
        |    CAST(count(*) - count(doc_id) AS BIGINT) AS n_nulls,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
        |    CAST(min(doc_id) AS VARCHAR) AS min_value,
        |    CAST(max(doc_id) AS VARCHAR) AS max_value,
        |    avg(length(CAST(doc_id AS VARCHAR))) AS avg_len
        |  FROM d
        |  UNION ALL
        |  SELECT 'source', CAST(count(*) - count(source) AS BIGINT),
        |    CAST(count(DISTINCT source) AS BIGINT),
        |    min(source), max(source), avg(length(source)) FROM d
        |  UNION ALL
        |  SELECT 'maybe_lang', CAST(count(*) - count(maybe_lang) AS BIGINT),
        |    CAST(count(DISTINCT maybe_lang) AS BIGINT),
        |    min(maybe_lang), max(maybe_lang), avg(length(maybe_lang)) FROM d
        |  UNION ALL
        |  SELECT 'text', CAST(count(*) - count(text) AS BIGINT),
        |    CAST(count(DISTINCT text) AS BIGINT),
        |    min(text), max(text), avg(length(text)) FROM d) p""".stripMargin) {
      (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("text"),
        when(col("doc_id") % 7 === 0, lit(null)).otherwise(col("lang"))
          .as("maybe_lang"))
      graft.operators.TableProfile.profileColumns(
        d, Seq("doc_id", "source", "maybe_lang", "text"))
    },

    // ── BPE merge learning (the tokenizer TRAINER; text_token_counts
    // applies a regex proxy): first 10 merge rules from the corpus.
    // The merge loop is iterative but k is FIXED, so the oracle UNROLLS
    // it: 10 (pair-count → argmax → list_reduce merge pass) CTE pairs
    // recompute the exact rules — counts, tie-breaks and all — and the
    // row is fully hash-checked (was rows-only through round 5).
    // Deterministic: ties break lexicographically on (left, right). ────
    Q(
      "vocab_bpe_merges",
      OracleSnippets.bpeMergesSql(k = 10)) { (s, dir) =>
      import s.implicits._
      CorpusOps.learnBpeMerges(docs(s, dir), "text", k = 10)
        .zipWithIndex
        .map { case ((a, b, c), i) => (i.toLong + 1, a, b, a + b, c) }
        .toDF("merge_rank", "left", "right", "merged", "pair_count")
    },

    // ── BPE application (train → apply round trip): per-document piece
    // counts under the 10 learned merges. The oracle reuses the
    // training prologue — its final word table IS the segmentation of
    // every corpus word — so the per-document counts are recomputed
    // value-for-value (was rows-only through round 5); CorpusOpsSpec
    // additionally pins exact segmentation on a hand trace and that
    // building the frame collects nothing. ─────────────────────────────
    Q(
      "vocab_bpe_apply",
      OracleSnippets.bpeApplySql(k = 10)) { (s, dir) =>
      val d = docs(s, dir)
      val merges = CorpusOps.learnBpeMerges(d, "text", k = 10)
        .map { case (a, b, _) => (a, b) }
      CorpusOps.applyBpePieceCounts(d, "doc_id", "text", merges)
    },

    // ── BPE vocabulary with corpus frequencies: the top-50 pieces the
    // 10 learned merges produce, weighted by word frequency — the
    // table a tokenizer ships. The oracle reads pieces straight off
    // the unrolled training chain's final word table; the Spark side
    // segments the distributed word-frequency table (mapPartitions,
    // merge list broadcast, TakeOrdered cut — nothing collected). ─────
    Q(
      "vocab_bpe_piece_freq",
      OracleSnippets.bpePieceFreqSql(k = 10, topK = 50)) { (s, dir) =>
      val d = docs(s, dir)
      val merges = CorpusOps.learnBpeMerges(d, "text", k = 10)
        .map { case (a, b, _) => (a, b) }
      CorpusOps.bpePieceFrequencies(d, "text", merges, k = 50)
    },

    // ── Unigram-LM tokenizer TRAINING (the SentencePiece complement
    // to the BPE chain): substring-frequency seed (top-64 ∪ all single
    // code points), 2 hard-EM rounds — Viterbi E-step, count-pruning
    // to 32 pieces (singles never pruned), add-one re-smoothing at
    // 6 dp. The oracle unrolls the WHOLE trajectory: the seed cut,
    // each round's per-word DP (max over the last-4 split points,
    // score ties to the lexicographically smallest piece list), the
    // count aggregation, the pruning cut and the re-smoothed probs —
    // one segmentation flipping anywhere flips counts and the hash. ──
    Q(
      "vocab_unigram_lm",
      OracleSnippets.unigramVocabSql(seedSize = 64, vocabSize = 32,
        emRounds = 2, maxPieceLen = 4, maxWordLen = 12)) { (s, dir) =>
      import s.implicits._
      CorpusOps.trainUnigramLm(docs(s, dir), "text", vocabSize = 32,
        emRounds = 2, maxPieceLen = 4, seedSize = 64)
        .pieces.toDF("piece", "n_occurrences", "logp")
    },

    // ── Unigram-LM application (train → apply round trip): per-doc
    // (token, Viterbi piece) counts under the trained vocabulary —
    // distinct words segment once, distributedly, with the piece
    // table broadcast; the oracle appends one more DP chain under the
    // final vocabulary and replays the per-document join. ────────────
    Q(
      "vocab_unigram_apply",
      OracleSnippets.unigramApplySql(seedSize = 64, vocabSize = 32,
        emRounds = 2, maxPieceLen = 4, maxWordLen = 12)) { (s, dir) =>
      val d = docs(s, dir)
      val vocab = CorpusOps.trainUnigramLm(d, "text", vocabSize = 32,
        emRounds = 2, maxPieceLen = 4, seedSize = 64)
      CorpusOps.applyUnigramPieceCounts(d, "doc_id", "text", vocab)
    },

    // ── Unigram-LM shipped vocabulary with corpus frequencies: the
    // top-50 pieces the trained tokenizer's Viterbi decode produces,
    // weighted by word frequency — the bpe_piece_freq twin; the oracle
    // reads pieces straight off the apply chain's segmentations. ──────
    Q(
      "vocab_unigram_piece_freq",
      OracleSnippets.unigramPieceFreqSql(seedSize = 64, vocabSize = 32,
        emRounds = 2, maxPieceLen = 4, maxWordLen = 12, topK = 50)) { (s, dir) =>
      val d = docs(s, dir)
      val vocab = CorpusOps.trainUnigramLm(d, "text", vocabSize = 32,
        emRounds = 2, maxPieceLen = 4, seedSize = 64)
      CorpusOps.unigramPieceFrequencies(d, "text", vocab, k = 50)
    },

    // ── Length-bucketed inference batching: docs bucket by the
    // power-of-2 ceiling of their token count (integer bit-length, so
    // both engines agree exactly at the boundaries), batch in id order
    // within (bucket, shard) — the shard is a deterministic md5 cut of
    // the id, so window parallelism scales with data instead of capping
    // at the ~30 buckets that can ever exist — 8 docs per batch;
    // per-batch occupancy and padding efficiency at the bucket's padded
    // length 2^bucket — the report that sets a serving/eval batcher's
    // boundaries. ─────────────────────────────────────────────────────
    Q(
      "pack_length_bucketed",
      s"""WITH tok AS (SELECT doc_id, len(str_split(text, ' ')) AS tok FROM documents),
         |b AS (SELECT doc_id, tok,
         |        CASE WHEN tok = 1 THEN 0
         |             ELSE CAST(length(bin(tok - 1)) AS BIGINT) END AS bucket,
         |        ${OracleSnippets.md5BucketSql("CAST(doc_id AS VARCHAR)", PackLenShards)} AS shard
         |      FROM tok WHERE tok >= 1),
         |w AS (SELECT *, row_number() OVER (PARTITION BY bucket, shard ORDER BY doc_id) AS rn
         |      FROM b),
         |g AS (SELECT bucket, CAST(shard AS BIGINT) AS shard,
         |             CAST(floor((rn - 1) / 8.0) AS BIGINT) AS batch, doc_id, tok
         |      FROM w)
         |SELECT bucket, shard, batch,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(tok) AS BIGINT) AS n_tokens,
         |       CAST(max(tok) AS BIGINT) AS max_tokens,
         |       CAST(min(doc_id) AS BIGINT) AS first_doc,
         |       round(sum(tok) / (count(*) * power(2.0, bucket)), 6) AS pad_efficiency
         |FROM g GROUP BY bucket, shard, batch""".stripMargin) { (s, dir) =>
      val tok = docs(s, dir).select(
        col("doc_id"), TextOps.tokenCount(col("text")).as("tok"))
      CorpusOps.packLengthBucketed(tok, "doc_id", "tok", maxBatch = 8,
        shards = PackLenShards)
    },

    // ── Mix-to-target rebalancing: derive per-language keep rates FROM
    // the data (largest downsample-only total honoring the target
    // shares — the scarcest weighted stratum binds at rate 100), then
    // apply them as the deterministic md5-bucket cut. The per-stratum
    // counts are an index-sized aggregate; only integer rates ride into
    // the per-row predicate. zh has no target weight → rate 0 (dropped
    // stratum). Both engines compute rates with the identical f64
    // expression order, so the floor boundaries agree bit-exactly. ─────
    Q(
      "corpus_mix_to_target",
      s"""WITH counts AS (
         |  SELECT lang, CAST(count(*) AS DOUBLE) AS c FROM documents GROUP BY lang),
         |w AS (SELECT lang, c, CASE lang $MixCaseSql ELSE 0.0 END AS wt FROM counts),
         |t AS (SELECT min(c / wt) AS tmax FROM w WHERE wt > 0),
         |rates AS (
         |  SELECT lang,
         |         CASE WHEN wt <= 0 THEN 0
         |              ELSE least(CAST(floor(100.0 * tmax * wt / c) AS BIGINT), 100)
         |         END AS rate
         |  FROM w, t),
         |rated AS (
         |  SELECT d.lang, r.rate,
         |         ${OracleSnippets.md5BucketSql("CAST(doc_id AS VARCHAR)", 100)} AS bucket
         |  FROM documents d JOIN rates r USING (lang))
         |SELECT lang, CAST(rate AS BIGINT) AS rate_pct,
         |       CAST(count(*) AS BIGINT) AS n_total,
         |       CAST(count(CASE WHEN bucket < rate THEN 1 END) AS BIGINT) AS n_kept
         |FROM rated GROUP BY lang, rate""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      // index-sized: one row per language, collected to compute rates
      val counts = d.groupBy("lang").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val rates = CorpusOps.mixRates(counts, MixTargets)
      val keep = CorpusOps.stratumKeep(col("doc_id"), col("lang"), rates, 0)
      val rateCol = rates.foldLeft(lit(0)) { case (acc, (k, v)) =>
        when(col("lang") === k, v).otherwise(acc)
      }
      d.groupBy("lang").agg(
          count(lit(1)).as("n_total"),
          count(when(keep, 1)).as("n_kept"))
        .select(col("lang"), rateCol.cast("long").as("rate_pct"),
          col("n_total"), col("n_kept"))
    },

    // ── Commit-log history: the DESCRIBE HISTORY surface, driven over
    // a fresh logged table built from two appends — the version
    // sequence, operation tags, and remove counts are the
    // deterministic contract here (per-append FILE counts vary with
    // session parallelism, so they are pinned in LoggedStoreSpec where
    // the layout is controlled). ───────────────────────────────────────
    Q(
      "store_log_history",
      """SELECT CAST(1 AS BIGINT) AS version, 'append' AS operation,
        |       CAST(0 AS BIGINT) AS n_removed
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'append', CAST(0 AS BIGINT)
        |ORDER BY version""".stripMargin) { (s, dir) =>
      import graft.store.CommitLog
      val a = docs(s, dir).select("doc_id", "source", "text")
      val table = "/tmp/graft_state/log_history_docs"
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(table), true)
      CommitLog.append(a.filter(col("doc_id") % 2 === 0), table)
      CommitLog.append(a.filter(col("doc_id") % 2 === 1), table)
      // file counts per append vary with session parallelism — the
      // version sequence, operation tags, and remove counts are the
      // deterministic contract (add counts are pinned in
      // LoggedStoreSpec where the layout is controlled)
      CommitLog.history(s, table).select("version", "operation", "n_removed")
    },

    // ── Epochs-per-source upsampling: the complement of the downsample
    // mix — scarce strata REPEAT to hit target weights, anchored at the
    // most-abundant stratum (rate exactly 1.0, nothing downsampled).
    // Every (doc, copy) row hash-checked: floor(rate/100) copies plus
    // one more when the doc's md5 bucket falls under the fractional
    // hundredths; zero-weight strata vanish. ───────────────────────────
    Q(
      "corpus_upsample",
      s"""WITH counts AS (
         |  SELECT lang, CAST(count(*) AS DOUBLE) AS c FROM documents GROUP BY lang),
         |w AS (SELECT lang, c, CASE lang $MixCaseSql ELSE 0.0 END AS wt FROM counts),
         |t AS (SELECT max(c / wt) AS tmin FROM w WHERE wt > 0),
         |rates AS (
         |  SELECT lang,
         |         CASE WHEN wt <= 0 THEN 0
         |              ELSE CAST(floor(100.0 * tmin * wt / c) AS BIGINT)
         |         END AS rate
         |  FROM w, t),
         |rated AS (
         |  SELECT d.doc_id, d.lang, r.rate,
         |         CAST(floor(r.rate / 100.0) AS BIGINT)
         |           + CASE WHEN ${OracleSnippets.md5BucketSql("CAST(doc_id AS VARCHAR)", 100)}
         |                       < r.rate % 100 THEN 1 ELSE 0 END AS n_copies
         |  FROM documents d JOIN rates r USING (lang))
         |SELECT doc_id, lang, CAST(f.copy AS BIGINT) AS copy
         |FROM rated, LATERAL (SELECT unnest(range(0, n_copies)) AS copy) f""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val counts = d.groupBy("lang").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val rates = CorpusOps.repeatRates(counts, MixTargets)
      CorpusOps.upsampleByRate(d, "doc_id", "lang", rates)
        .select("doc_id", "lang", "copy")
    },

    // ── Token-budget selection: per source, keep the highest-quality
    // documents while the running token total stays within the budget —
    // mixes are specified in tokens, not document counts. One exchange
    // on source, per-source windows, no global sort. min_quality pins
    // that both engines keep the SAME documents (identical f64 quality
    // ordering), not just the same counts. ────────────────────────────
    Q(
      "corpus_token_budget",
      s"""WITH scored AS (
         |  SELECT doc_id, source, len(str_split(text, ' ')) AS tok,
         |         ${OracleSnippets.qualitySql} AS quality
         |  FROM documents),
         |cum AS (
         |  SELECT source, tok, quality,
         |         sum(tok) OVER (PARTITION BY source
         |                        ORDER BY quality DESC, doc_id) AS cum_tok
         |  FROM scored)
         |SELECT source,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(tok) AS BIGINT) AS n_tokens,
         |       min(quality) AS min_quality
         |FROM cum WHERE cum_tok <= $TokenBudget GROUP BY source""".stripMargin) { (s, dir) =>
      val scored = docs(s, dir).select(
        col("doc_id"), col("source"),
        TextOps.tokenCount(col("text")).as("tok"),
        TextOps.qualityScore(col("text")).as("quality"))
      CorpusOps.selectToTokenBudget(
          scored, "source", "quality", "doc_id", "tok", TokenBudget)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("tok")).as("n_tokens"),
          min(col("quality")).as("min_quality"))
    },

    // ── Temperature-scaled mixing shares (p_i ∝ n_i^α, the
    // multilingual-rebalance knob at α = 0.3): natural share, tempered
    // share, and each language's boost — every value hash-checked
    // against DuckDB's pow/round of the same token counts. ─────────────
    Q(
      "corpus_mix_temperature",
      """WITH s AS (SELECT lang,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang),
        |t AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS tt,
        |        sum(pow(n_tokens, 0.3)) AS tp FROM s)
        |SELECT lang, n_docs, n_tokens,
        |  round(n_tokens / tt, 6) AS raw_share,
        |  round(pow(n_tokens, 0.3) / tp, 6) AS temp_share,
        |  round((pow(n_tokens, 0.3) / tp) / (n_tokens / tt), 4) AS boost
        |FROM s, t""".stripMargin) { (s, dir) =>
      CorpusOps.temperatureShares(docs(s, dir), "lang", "text", alpha = 0.3)
    },

    // ── Per-source JS divergence from the corpus unigram distribution
    // (the mixture-drift monitor). The oracle computes the NAIVE full
    // vocabulary-×-sources expansion; the engine never builds it —
    // absent-token mass sums in closed form (½·ln2·(1 − covered)) —
    // so a hash match doubles as a check of the decomposition. ─────────
    Q(
      "corpus_source_divergence",
      """WITH tok AS (SELECT source, unnest(str_split(text, ' ')) AS token
        |    FROM documents),
        |st AS (SELECT source, token, CAST(count(*) AS DOUBLE) AS c
        |    FROM tok WHERE token <> '' GROUP BY 1, 2),
        |g AS (SELECT token, sum(c) AS gc FROM st GROUP BY 1),
        |ns AS (SELECT source, sum(c) AS n FROM st GROUP BY 1),
        |tt AS (SELECT sum(c) AS nn FROM st),
        |srcs AS (SELECT DISTINCT source FROM st),
        |vfull AS (SELECT srcs.source, g.token, g.gc, coalesce(st.c, 0) AS c
        |    FROM srcs CROSS JOIN g
        |    LEFT JOIN st ON st.source = srcs.source AND st.token = g.token),
        |terms AS (SELECT f.source, f.c / ns.n AS p, f.gc / tt.nn AS q
        |    FROM vfull f JOIN ns USING (source), tt),
        |agg AS (SELECT source,
        |    sum(CASE WHEN p > 0 THEN 1 ELSE 0 END) AS vocab,
        |    sum(CASE WHEN p > 0 THEN q ELSE 0 END) AS covered,
        |    sum(CASE WHEN p > 0 THEN 0.5 * p * ln(p / ((p + q) / 2)) ELSE 0 END
        |        + 0.5 * q * ln(q / ((p + q) / 2))) AS js
        |  FROM terms GROUP BY source)
        |SELECT a.source, CAST(n.n AS BIGINT) AS n_tokens,
        |  CAST(a.vocab AS BIGINT) AS vocab,
        |  round(a.covered, 6) AS covered_mass, round(a.js, 6) AS js
        |FROM agg a JOIN ns n USING (source)""".stripMargin) { (s, dir) =>
      CorpusOps.jsDivergenceBySource(docs(s, dir), "source", "text")
    },

    // ── Global exact paragraph dedup (the C4 exact-span stage): a
    // promo block shared by doc_id % 7 survives only at its first
    // (doc, position) occurrence — plus whatever natural line
    // duplication the corpus carries, which the oracle recomputes
    // identically. Every clean_text and removal count hash-checked. ────
    Q(
      "corpus_paragraph_dedup",
      """WITH t AS (SELECT doc_id,
        |    text || chr(10) || 'SHARED PROMO BLOCK ' || CAST(doc_id % 7 AS VARCHAR) AS txt
        |  FROM documents),
        |l AS (SELECT doc_id, generate_subscripts(str_split(txt, chr(10)), 1) AS idx,
        |        unnest(str_split(txt, chr(10))) AS line
        |      FROM t),
        |el AS (SELECT doc_id, idx FROM l WHERE len(line) >= 5
        |       QUALIFY row_number() OVER (PARTITION BY md5(line) ORDER BY doc_id, idx) = 1),
        |k AS (SELECT l.doc_id, l.idx, l.line FROM l
        |      LEFT JOIN el ON el.doc_id = l.doc_id AND el.idx = l.idx
        |      WHERE len(l.line) < 5 OR el.idx IS NOT NULL),
        |agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS clean_text,
        |          count(*) AS n_kept
        |        FROM k GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(agg.clean_text, '') AS clean_text,
        |  CAST(len(str_split(t.txt, chr(10))) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed
        |FROM t LEFT JOIN agg USING (doc_id)""".stripMargin) { (s, dir) =>
      val withPromo = docs(s, dir).select(col("doc_id"),
        concat(col("text"), lit("\nSHARED PROMO BLOCK "),
          (col("doc_id") % 7).cast("string")).as("text"))
      CorpusOps.dedupParagraphsGlobal(withPromo, "doc_id", "text", "\n", minLen = 5)
    })
}
