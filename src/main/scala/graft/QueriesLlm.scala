package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.eval.RankingMetrics
import graft.functions.Vectors
import graft.multimodal.Multimodal
import graft.ops.{Dedup, Relational, Similarity, TextAnalysis}
import graft.sources.SyntheticData

/** LLM-training-data pipeline tranche (builder-brief north-star components):
  * deduplication (exact, MinHash-LSH, SimHash, inverted-index Jaccard),
  * text analysis (stats/quality, language ID, fingerprinting), ANN with a
  * recall-vs-exact self-check, embedding near-dups, and multimodal binary
  * column plumbing. Oracle-checked where DuckDB can express the math;
  * hash-seeded ops (xxhash64-based signatures) are summary/invariant
  * checked instead (+ ScalaTest).
  */
object QueriesLlm {

  import QueriesEval.Q

  private val Stopwords = Seq("the", "a", "an", "of", "in", "and", "to", "is")

  /** r14d's trained-codebook fixtures, keyed by applicationId (the
    * appScopedParquet lifecycle for driver-side case classes): the MoG
    * corpus and both trainings are deterministic, so retraining per
    * invocation only re-derives identical arrays (VERDICT r18 #6). */
  private val r14dTrainedCache =
    scala.collection.mutable.Map.empty[String,
      (graft.ops.Similarity.PqCodebook, graft.ops.Similarity.IvfPqIndex)]

  /** Marker-token language profiles for the synthetic corpus. All five
    * languages share one vocabulary in this testdata, so this verifies the
    * argmax/tiebreak mechanics; real corpora would use distinctive n-grams
    * in the same shape. Alphabetical tiebreak (FIXTURES §3 determinism). */
  private val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("customer", "hash", "join", "row"),
    "en" -> Seq("order", "table", "window", "group"),
    "es" -> Seq("slow", "agg", "merge", "vector"),
    "fr" -> Seq("scan", "data", "query", "batch"),
    "zh" -> Seq("join", "small", "row", "column"))

  private val DuckTokens =
    "string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"

  /** The full gopherRepetition replay (shared by `t_gopher_rep` and the
    * threshold-application row `t_gopher_filter`): one token unnest,
    * lead-built grams, per-doc prefix char offsets, top-gram products
    * and positional-union dup coverage as integer ppm. */
  private lazy val GopherRepSql: String =
    s"""WITH t AS (SELECT doc_id, $DuckTokens AS ts FROM documents),
       |tok AS (SELECT doc_id, gs.pos - 1 AS pos, ts[gs.pos] AS tok
       |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(ts))) AS pos) gs),
       |tokc AS (SELECT doc_id, pos, tok,
       |  coalesce(sum(length(tok) + 1) OVER (PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cstart,
       |  lead(tok, 1) OVER w AS t1, lead(tok, 2) OVER w AS t2,
       |  lead(tok, 3) OVER w AS t3
       |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |tot AS (SELECT doc_id,
       |  CAST(greatest(sum(length(tok) + 1) - 1, 0) AS BIGINT) AS total_chars
       |  FROM tok GROUP BY 1),
       |cnt2 AS (SELECT doc_id, tok || ' ' || t1 AS g, count(*) AS cnt
       |  FROM tokc WHERE t1 IS NOT NULL GROUP BY 1, 2),
       |top2 AS (SELECT doc_id, max(struct_pack(cnt := cnt, g := g)) AS m
       |  FROM cnt2 GROUP BY 1),
       |cnt3 AS (SELECT doc_id, tok || ' ' || t1 || ' ' || t2 AS g, count(*) AS cnt
       |  FROM tokc WHERE t2 IS NOT NULL GROUP BY 1, 2),
       |top3 AS (SELECT doc_id, max(struct_pack(cnt := cnt, g := g)) AS m
       |  FROM cnt3 GROUP BY 1),
       |cnt4 AS (SELECT doc_id, tok || ' ' || t1 || ' ' || t2 || ' ' || t3 AS g, count(*) AS cnt
       |  FROM tokc WHERE t3 IS NOT NULL GROUP BY 1, 2),
       |top4 AS (SELECT doc_id, max(struct_pack(cnt := cnt, g := g)) AS m
       |  FROM cnt4 GROUP BY 1),
       |d2 AS (SELECT doc_id, pos, cstart,
       |  cstart + length(tok || ' ' || t1) AS cend,
       |  count(*) OVER (PARTITION BY doc_id, tok || ' ' || t1) AS cnt
       |  FROM tokc WHERE t1 IS NOT NULL),
       |d2c AS (SELECT doc_id, greatest(0, cend - greatest(cstart,
       |    coalesce(max(cend) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))) AS c
       |  FROM (SELECT * FROM d2 WHERE cnt > 1)),
       |dup2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS dupnum
       |  FROM d2c GROUP BY 1),
       |d3 AS (SELECT doc_id, pos, cstart,
       |  cstart + length(tok || ' ' || t1 || ' ' || t2) AS cend,
       |  count(*) OVER (PARTITION BY doc_id, tok || ' ' || t1 || ' ' || t2) AS cnt
       |  FROM tokc WHERE t2 IS NOT NULL),
       |d3c AS (SELECT doc_id, greatest(0, cend - greatest(cstart,
       |    coalesce(max(cend) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))) AS c
       |  FROM (SELECT * FROM d3 WHERE cnt > 1)),
       |dup3 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS dupnum
       |  FROM d3c GROUP BY 1)
       |SELECT t.doc_id, tot.total_chars,
       |  coalesce((top2.m.cnt * length(top2.m.g) * 1000000)
       |    // nullif(total_chars, 0), 0) AS top2gram_ppm,
       |  coalesce((top3.m.cnt * length(top3.m.g) * 1000000)
       |    // nullif(total_chars, 0), 0) AS top3gram_ppm,
       |  coalesce((top4.m.cnt * length(top4.m.g) * 1000000)
       |    // nullif(total_chars, 0), 0) AS top4gram_ppm,
       |  coalesce((dup2.dupnum * 1000000) // nullif(total_chars, 0), 0) AS dup2gram_ppm,
       |  coalesce((dup3.dupnum * 1000000) // nullif(total_chars, 0), 0) AS dup3gram_ppm
       |FROM t JOIN tot USING (doc_id)
       |LEFT JOIN top2 USING (doc_id) LEFT JOIN top3 USING (doc_id)
       |LEFT JOIN top4 USING (doc_id) LEFT JOIN dup2 USING (doc_id)
       |LEFT JOIN dup3 USING (doc_id)""".stripMargin

  /** Cumulative split fraction → 8-hex-digit threshold, the same rendering
    * `Relational.hashSplit` uses — keeps the DuckDB oracle pinned to the
    * identical first-32-bits-of-md5 comparison. */
  private def hx(f: Double): String = f"${(f * 4294967296.0).toLong}%08x"

  /** Planted-id offset for the multimodal near-dup harnesses (ADVICE
    * r17): derived from the corpus (max(doc_id) + 1, one column-pruned
    * scan) instead of a constant — at any sf where real doc_ids reach a
    * hard-coded constant, the planted keyspace would collide with
    * genuine ids and silently corrupt planted_recall. Requires
    * non-negative ids so `k·off`-spaced plant generations stay disjoint
    * from the corpus and from each other. */
  private def plantedOffset(media: DataFrame): Long = {
    val r = media.agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .head()
    require(!r.isNullAt(0) && r.getLong(0) >= 0L,
      s"plantedOffset: doc_id must be non-negative, min=${r.get(0)}")
    r.getLong(1) + 1L
  }

  /** One arm's hit count, for a recall row that reports its arms as
    * columns: pivots the per-arm rows of [[RankingMetrics.recallVsExact]]
    * (`arm` selects the arm's row; an arm with no row reports 0). */
  private def armHits(arm: org.apache.spark.sql.Column) =
    coalesce(max(when(arm, col("n_hits"))), lit(0L))

  /** 3-step BPE oracle, shared by t_bpe_merges (recomputing form) and
    * t_bpe_materialized (checkpointing form) — the two must learn the
    * IDENTICAL table, so they hash against the identical SQL. */
  private val BpeOracle3: String =
    s"""WITH d0 AS (SELECT ' ' || replace(trim(regexp_replace(lower(text),
       |    '\\s+', ' ', 'g')), ' ', '  ') || ' ' AS st FROM documents),
       |t1 AS (SELECT regexp_split_to_array(trim(st), ' +') AS ts FROM d0),
       |p1 AS (SELECT u.s.l AS l, u.s.r AS r FROM t1, unnest(
       |  CASE WHEN len(ts) < 2 THEN [] ELSE list_transform(range(1, len(ts)),
       |    i -> struct_pack(l := ts[i], r := ts[i+1])) END) AS u(s)),
       |b1 AS (SELECT l, r, count(*) AS cnt FROM p1 GROUP BY 1,2
       |  ORDER BY cnt DESC, l, r LIMIT 1),
       |d1 AS (SELECT replace(st, ' ' || b1.l || '  ' || b1.r || ' ',
       |  ' ' || b1.l || chr(1) || b1.r || ' ') AS st FROM d0 CROSS JOIN b1),
       |t2 AS (SELECT regexp_split_to_array(trim(st), ' +') AS ts FROM d1),
       |p2 AS (SELECT u.s.l AS l, u.s.r AS r FROM t2, unnest(
       |  CASE WHEN len(ts) < 2 THEN [] ELSE list_transform(range(1, len(ts)),
       |    i -> struct_pack(l := ts[i], r := ts[i+1])) END) AS u(s)),
       |b2 AS (SELECT l, r, count(*) AS cnt FROM p2 GROUP BY 1,2
       |  ORDER BY cnt DESC, l, r LIMIT 1),
       |d2 AS (SELECT replace(st, ' ' || b2.l || '  ' || b2.r || ' ',
       |  ' ' || b2.l || chr(1) || b2.r || ' ') AS st FROM d1 CROSS JOIN b2),
       |t3 AS (SELECT regexp_split_to_array(trim(st), ' +') AS ts FROM d2),
       |p3 AS (SELECT u.s.l AS l, u.s.r AS r FROM t3, unnest(
       |  CASE WHEN len(ts) < 2 THEN [] ELSE list_transform(range(1, len(ts)),
       |    i -> struct_pack(l := ts[i], r := ts[i+1])) END) AS u(s)),
       |b3 AS (SELECT l, r, count(*) AS cnt FROM p3 GROUP BY 1,2
       |  ORDER BY cnt DESC, l, r LIMIT 1)
       |SELECT CAST(1 AS BIGINT) AS step, * FROM b1
       |UNION ALL SELECT 2, * FROM b2
       |UNION ALL SELECT 3, * FROM b3 ORDER BY step""".stripMargin

  /** Shared 3-merge encode oracle prefix: learns the same table as
    * [[BpeOracle3]] (b1/b2/b3) while carrying doc_id through the merge
    * chain, ending in per-document final token lists (`tok`). The encode
    * and vocab-usage oracles both read from it. Each merge step is a
    * LEFT JOIN ON TRUE + CASE, not a CROSS JOIN: on a pair-exhausted
    * corpus an empty b_i would make a cross join DROP every document
    * (while the engine ends the merge table early and still encodes all
    * docs) — the left join keeps the step a per-doc no-op instead. */
  private val BpeEncodePrefix: String = bpeEncodePrefixFrom("documents")

  /** [[BpeEncodePrefix]] over an arbitrary source relation, optionally
    * preceded by extra CTEs (`pre` must end with a comma when non-empty) —
    * lets composition rows (c8) run the identical learn→encode replay over
    * a CLEANED corpus CTE instead of raw `documents`. */
  private def bpeEncodePrefixFrom(src: String, pre: String = ""): String =
    s"""WITH ${pre}d0 AS (SELECT doc_id,
       |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm,
       |    ' ' || replace(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
       |      ' ', '  ') || ' ' AS st FROM $src),
       |t1 AS (SELECT regexp_split_to_array(trim(st), ' +') AS ts FROM d0),
       |p1 AS (SELECT u.s.l AS l, u.s.r AS r FROM t1, unnest(
       |  CASE WHEN len(ts) < 2 THEN [] ELSE list_transform(range(1, len(ts)),
       |    i -> struct_pack(l := ts[i], r := ts[i+1])) END) AS u(s)),
       |b1 AS (SELECT l, r FROM p1 GROUP BY 1,2
       |  ORDER BY count(*) DESC, l, r LIMIT 1),
       |d1 AS (SELECT doc_id, norm, CASE WHEN b1.l IS NULL THEN st ELSE
       |  replace(st, ' ' || b1.l || '  ' || b1.r || ' ',
       |    ' ' || b1.l || chr(1) || b1.r || ' ') END AS st
       |  FROM d0 LEFT JOIN b1 ON TRUE),
       |t2 AS (SELECT regexp_split_to_array(trim(st), ' +') AS ts FROM d1),
       |p2 AS (SELECT u.s.l AS l, u.s.r AS r FROM t2, unnest(
       |  CASE WHEN len(ts) < 2 THEN [] ELSE list_transform(range(1, len(ts)),
       |    i -> struct_pack(l := ts[i], r := ts[i+1])) END) AS u(s)),
       |b2 AS (SELECT l, r FROM p2 GROUP BY 1,2
       |  ORDER BY count(*) DESC, l, r LIMIT 1),
       |d2 AS (SELECT doc_id, norm, CASE WHEN b2.l IS NULL THEN st ELSE
       |  replace(st, ' ' || b2.l || '  ' || b2.r || ' ',
       |    ' ' || b2.l || chr(1) || b2.r || ' ') END AS st
       |  FROM d1 LEFT JOIN b2 ON TRUE),
       |t3 AS (SELECT regexp_split_to_array(trim(st), ' +') AS ts FROM d2),
       |p3 AS (SELECT u.s.l AS l, u.s.r AS r FROM t3, unnest(
       |  CASE WHEN len(ts) < 2 THEN [] ELSE list_transform(range(1, len(ts)),
       |    i -> struct_pack(l := ts[i], r := ts[i+1])) END) AS u(s)),
       |b3 AS (SELECT l, r FROM p3 GROUP BY 1,2
       |  ORDER BY count(*) DESC, l, r LIMIT 1),
       |d3 AS (SELECT doc_id, norm, CASE WHEN b3.l IS NULL THEN st ELSE
       |  replace(st, ' ' || b3.l || '  ' || b3.r || ' ',
       |    ' ' || b3.l || chr(1) || b3.r || ' ') END AS st
       |  FROM d2 LEFT JOIN b3 ON TRUE),
       |tok AS (SELECT doc_id, norm,
       |  list_filter(regexp_split_to_array(trim(st), ' +'),
       |    t -> len(t) > 0) AS ts FROM d3)""".stripMargin

  /** x9e's input frame — BPE-encoded dense ids, chunked to whole units
    * ≤ 48 (the chunkDocs contract packDocsNoSplit's overflow error
    * names), one row per (unit_id, lang, chunk_ids). Shared by the
    * registry row and the dynamic-oracle builder so both sides pack the
    * SAME units. */
  private def x9eUnits(s: SparkSession, d: String): DataFrame = {
    val docs = SparkEntry.T(s, d, "documents")
    TextAnalysis.bpeLearnEncodeIds(docs, "doc_id", "text",
        iterations = 3, vocabSize = 20)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("lang"),
        posexplode(TextAnalysis.chunkIdArray(col("token_ids"), 48))
          .as(Seq("chunk_idx", "chunk_ids")))
      .select(concat(col("doc_id").cast("string"), lit("#"),
        col("chunk_idx").cast("string")).as("unit_id"),
        col("lang"), col("chunk_ids"))
  }

  /** DYNAMIC oracle for x9e_pack_nosplit (rendered at Verify time for
    * the actual sf dir — VERDICT r16 #3): the BFD slot table is solved
    * HERE from the same units frame the query packs, then shipped into
    * DuckDB as a VALUES literal; the SQL replays everything else
    * independently — the 3-merge BPE learn/encode, the ≤48 chunking,
    * the md5-of-unit-id rank within (lang, len), the slot-interval join
    * arithmetic (bin = binbase + rel div k, offset = offbase +
    * (rel mod k)·len) and the per-bin tensor assembly with padding —
    * so a hash match gates the entire DISTRIBUTED REALIZATION
    * value-for-value. The solve itself is the one driver-side input the
    * oracle trusts; it stays pinned by DedupTextSpec's differential
    * spec against a naive per-doc BFD simulation. */
  private[graft] def x9eOracleSql(s: SparkSession, d: String): String = {
    val hist = x9eUnits(s, d)
      .select(col("lang"),
        org.apache.spark.sql.functions.size(col("chunk_ids")).as("__len"))
      .filter(col("__len") > 0)
      .groupBy(col("lang"), col("__len")).agg(count(lit(1)).as("__n"))
      .collect()
    val byLang = hist.groupBy(_.getString(0)).toSeq.sortBy(_._1)
      .map { case (lang, rows) =>
        (Seq(lang: Any), rows.map(r => (r.getInt(1), r.getLong(2))).toSeq)
      }
    val slotRows = TextAnalysis.noSplitSlotRows(byLang, 64)
    require(slotRows.nonEmpty, "x9eOracleSql: empty slot table")
    val values = slotRows.map { case (g, len, cum, nslots, k, bb, ob) =>
      val lang = g.head.toString.replace("'", "''")
      s"('$lang', $len, $cum, $nslots, $k, $bb, $ob)"
    }.mkString(", ")
    s"""$BpeEncodePrefix,
       |u AS (SELECT unnest(ts) AS tok FROM tok),
       |v AS (SELECT tok, row_number() OVER
       |    (ORDER BY count(*) DESC, tok) AS tid
       |  FROM u GROUP BY tok ORDER BY count(*) DESC, tok LIMIT 20),
       |e AS (SELECT doc_id, x.s.p AS pos, x.s.tok AS tok FROM tok,
       |  unnest(list_transform(range(1, len(ts) + 1),
       |    i -> struct_pack(p := i - 1, tok := ts[i]))) AS x(s)),
       |m AS (SELECT doc_id, pos, coalesce(v.tid, 0) AS tid
       |      FROM e LEFT JOIN v USING (tok)),
       |un AS (SELECT m.doc_id::VARCHAR || '#' || (pos // 48)::VARCHAR
       |    AS unit_id, docs.lang,
       |  count(*)::INT AS ulen,
       |  string_agg(tid::VARCHAR, ' ' ORDER BY pos) AS cstr
       |  FROM m JOIN documents docs ON m.doc_id = docs.doc_id
       |  GROUP BY 1, 2),
       |slot AS (SELECT lang, len::INT AS len, cum::BIGINT AS cum,
       |    nslots::BIGINT AS nslots, k::BIGINT AS k,
       |    binbase::BIGINT AS binbase, offbase::BIGINT AS offbase
       |  FROM (VALUES $values)
       |    t(lang, len, cum, nslots, k, binbase, offbase)),
       |r AS (SELECT un.*, row_number() OVER (PARTITION BY lang, ulen
       |    ORDER BY md5(unit_id), unit_id) - 1 AS o FROM un),
       |a AS (SELECT r.lang, r.unit_id, r.ulen, r.cstr,
       |  s.binbase + (r.o - s.cum) // s.k AS bin_id,
       |  (s.offbase + ((r.o - s.cum) % s.k) * s.len)::INT AS sp
       |  FROM r JOIN slot s ON r.lang = s.lang AND r.ulen = s.len
       |    AND r.o >= s.cum AND r.o < s.cum + s.nslots),
       |agg AS (SELECT lang, bin_id,
       |  CAST(sum(ulen) AS BIGINT) AS n_real,
       |  count(*) AS n_docs,
       |  string_agg(cstr, ' ' ORDER BY sp) AS real_str,
       |  string_agg(sp::VARCHAR, ' ' ORDER BY sp) AS starts_str,
       |  string_agg(unit_id, ' ' ORDER BY sp) AS units_str
       |  FROM a GROUP BY 1, 2)
       |SELECT lang, bin_id, n_real, n_docs,
       |  ((64 - n_real) * 1000000) // 64 AS pad_ppm,
       |  real_str || repeat(' 0', (64 - n_real)::INT) AS ids_str,
       |  starts_str, units_str
       |FROM agg ORDER BY lang, bin_id""".stripMargin
  }

  val registry: Seq[Q] = Seq(

    // --- Exact dedup: normalized-content hash groups, min-id keeper ---
    ("d_exact_dedup", (s, d) =>
      Dedup.exactDupGroups(SparkEntry.T(s, d, "documents"), "doc_id", "text")
        .orderBy(col("keep_id")),
      Some("""SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash,
             |min(doc_id) AS keep_id, count(*) AS dup_count
             |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin)),

    // --- Dedup observability: per-language duplicate RATE — each
    //     non-keeper member of a (global) content group counts against
    //     its language. The number a corpus-prep pipeline tracks per
    //     source/snapshot to catch an ingest regression (a crawler
    //     re-fetching a language doubles its rate) before training. ---
    ("d_dup_rate", (s, d) => {
      val docs = SparkEntry.T(s, d, "documents")
      val h = docs.select(col("lang"), col("doc_id"),
        md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("ch"))
      val keep = h.groupBy(col("ch")).agg(min(col("doc_id")).as("keep_id"))
      h.join(keep, Seq("ch"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("doc_id") =!= col("keep_id"), 1)).as("n_dups"),
          round(count(when(col("doc_id") =!= col("keep_id"), 1))
            .cast("double") / count(lit(1)), 6).as("dup_rate"))
        .orderBy(col("lang"))
    },
      Some("""WITH h AS (SELECT lang, doc_id,
             |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS ch
             |  FROM documents),
             |k AS (SELECT ch, min(doc_id) AS keep_id FROM h GROUP BY 1)
             |SELECT lang, count(*) AS n_docs,
             |CAST(count(*) FILTER (WHERE doc_id <> keep_id) AS BIGINT) AS n_dups,
             |round(CAST(count(*) FILTER (WHERE doc_id <> keep_id) AS DOUBLE)
             |  / count(*), 6) AS dup_rate
             |FROM h JOIN k USING (ch) GROUP BY 1 ORDER BY lang""".stripMargin)),

    // --- Inverted-index n-gram Jaccard near-dups, bucketed by (lang, source) ---
    ("d_token_jaccard", (s, d) =>
      Dedup.tokenJaccardPairs(SparkEntry.T(s, d, "documents"), "doc_id",
        "text", 0.7, bucketCols = Seq("lang", "source"))
        .orderBy(col("id1"), col("id2")),
      Some(s"""WITH toks AS (SELECT doc_id, lang, source,
              |  list_distinct($DuckTokens) AS ts FROM documents),
              |pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
              |  len(list_intersect(a.ts, b.ts))::DOUBLE /
              |    (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) AS jaccard
              |  FROM toks a JOIN toks b
              |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
              |SELECT id1, id2, jaccard FROM pairs WHERE jaccard >= 0.7
              |ORDER BY id1, id2""".stripMargin)),

    // --- Dup pairs → dup GROUPS: connected components over the
    //     token-Jaccard near-dup edges (min-label propagation, converges
    //     in O(cluster diameter) shuffles). The step every real dedup
    //     pipeline needs between pair scoring and keep/drop decisions;
    //     oracle = DuckDB recursive-CTE reachability closure. ---
    ("d_dup_groups", (s, d) => {
      val pairs = Dedup.tokenJaccardPairs(SparkEntry.T(s, d, "documents"),
        "doc_id", "text", 0.7, bucketCols = Seq("lang", "source"))
      Dedup.connectedComponents(pairs, "id1", "id2").orderBy(col("id"))
    },
      Some(s"""WITH RECURSIVE toks AS (SELECT doc_id, lang, source,
              |  list_distinct($DuckTokens) AS ts FROM documents),
              |pr AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
              |  len(list_intersect(a.ts, b.ts))::DOUBLE /
              |    (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) AS jaccard
              |  FROM toks a JOIN toks b
              |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id),
              |ok AS (SELECT id1, id2 FROM pr WHERE jaccard >= 0.7),
              |e AS (SELECT id1 AS a, id2 AS b FROM ok
              |      UNION SELECT id2, id1 FROM ok),
              |nodes AS (SELECT DISTINCT a AS n FROM e),
              |reach(n, m) AS (SELECT n, n FROM nodes
              |  UNION SELECT e.a, r.m FROM e JOIN reach r ON e.b = r.n)
              |SELECT n AS id, min(m) AS component FROM reach
              |GROUP BY n ORDER BY id""".stripMargin)),

    // --- MinHash-LSH near-dup summary (xxhash-seeded; invariants in tests).
    // maxBucketSize=64 opted in HERE (not the library default): this corpus
    // is low-entropy word salad with hot LSH buckets — the cap bounds the
    // within-bucket quadratic (13.5s → 7.3s at sf0.1, round-3 measurement). ---
    ("d_minhash_lsh", (s, d) =>
      Dedup.minHashNearDups(SparkEntry.T(s, d, "documents"), "doc_id", "text",
        shingleLen = 3, numHashes = 64, bands = 16, threshold = 0.5,
        maxBucketSize = 64)
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("id1")).as("n_docs_with_dup"),
          round(avg(col("jaccard")), 4).as("avg_jaccard")), None),

    // --- MinHash cap recall self-check (same shape as ann_cluster_recall):
    // the maxBucketSize=64 cap d_minhash_lsh opts into is a recall
    // trade-off; this query MEASURES it on the same corpus and parameters —
    // capped pair set vs the uncapped ground truth — so the cap's cost is
    // a number in every round's output, not a scaladoc promise. Floor
    // asserted in DedupTextSpec. ---
    ("d_minhash_cap_recall", (s, d) => {
      val docs = SparkEntry.T(s, d, "documents")
      def run(cap: Int) = Dedup.minHashNearDups(docs, "doc_id", "text",
        shingleLen = 3, numHashes = 64, bands = 16, threshold = 0.5,
        maxBucketSize = cap).select(col("id1"), col("id2"))
      // both near-dup pipelines emit each pair at most once (candidates
      // are `.distinct()` before the verify join), as the fold requires;
      // it runs the uncapped pipeline once
      RankingMetrics.recallVsExact(run(0), run(64), Seq("id1", "id2"))
        .select(col("n_hits").as("n_kept"), col("n_exact").as("n_uncapped"),
          round(col("n_hits").cast("double") / col("n_exact"), 4)
            .as("recall"))
    }, None),

    // --- SimHash near-dup summary (xxhash-seeded; invariants in tests).
    // Radius 8 → 9 banding blocks (pigeonhole-complete candidate recall;
    // the round-2 radius-16-over-4-blocks call was unsound and is fixed by
    // deriving blocks from the radius in simHashNearDups). ---
    // blockCombos left at 1 (classic banding) DELIBERATELY: this corpus is
    // near-dup-heavy, so candidates are dominated by true collisions and
    // pair-of-blocks banding only re-generates each of them in C(10,2)=45
    // buckets instead of 9 before the distinct — measured 6s → 15s at
    // sf0.1. blockCombos=2 is the right knob for the opposite regime
    // (uniform fingerprints, rare dups) where bucket-accidental candidates
    // dominate; see simHashNearDups scaladoc. ---
    // maxBucketSize=256 opted in after the sf1 scaling measurement
    // (BENCH_SF1.md): radius 8 forces 9 pigeonhole blocks of ~7 bits, so
    // there are only ~128 bucket keys per block and bucket depth grows
    // WITH the corpus — candidate pairs are inherently quadratic for
    // 64-bit fingerprints at this radius (measured 14.8× time for 10×
    // docs, the worst non-output-bound ratio in the suite). The cap bounds
    // any bucket's contribution at C(256,2); wider fingerprints (128-bit)
    // are the lossless fix if a corpus needs radius 8 completeness at
    // scale.
    // CONTRACT — what cap=256 costs in recall: DEDUP_RECALL.md measured
    // pair recall 0.24 at radius 8 under this cap on the sf1 corpus.
    // This query's production contract is therefore SMALL-RADIUS banding
    // (radius ≤ 3, where blocks are wide and buckets shallow — the cap
    // is a no-op there); it is NOT a production radius-8 dedup path. For
    // radius-8-equivalent completeness at scale use d_simhash128 below
    // (lossless, no cap needed) or its capped form whose recall is
    // re-measured every round (d_simhash128_cap_recall: 0.999994). ---
    ("d_simhash", (s, d) =>
      Dedup.simHashNearDups(SparkEntry.T(s, d, "documents"), "doc_id", "text",
        maxHamming = 8, maxBucketSize = 256)
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("id1")).as("n_docs"),
          min(col("hamming")).as("min_hamming")), None),

    // --- The LOSSLESS radius-8-equivalent form: 128-bit fingerprint
    //     (two independent 64-bit SimHash lanes), Hamming radius 16 of
    //     128 = the same similarity threshold as 8 of 64, banded as 18
    //     blocks × 2-block combo keys (~15 bits → 2¹⁵ bucket keys vs the
    //     64-bit banding's 2⁷). No maxBucketSize cap needed: the wider
    //     key space keeps bucket depth flat as the corpus grows — this
    //     is the completeness-preserving scale path the capped query
    //     above trades away. ---
    ("d_simhash128", (s, d) =>
      Dedup.simHashNearDups128(SparkEntry.T(s, d, "documents"), "doc_id",
        "text", maxHamming = 16, blockCombos = 2)
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("id1")).as("n_docs"),
          min(col("hamming")).as("min_hamming")), None),

    // --- 128-bit cap recall self-check (the d_minhash_cap_recall shape
    //     for the SimHash family): maxBucketSize=1024 is the measured
    //     >10⁶-doc decision rule (DEDUP_RECALL.md — 0.999994 pair recall
    //     at 7.8× less wall-clock at sf1); this keeps that recall a
    //     per-round NUMBER on the driver corpus rather than a one-off
    //     measurement. Floor asserted in DedupTextSpec. ---
    ("d_simhash128_cap_recall", (s, d) => {
      val docs = SparkEntry.T(s, d, "documents")
      def run(cap: Int) = Dedup.simHashNearDups128(docs, "doc_id", "text",
        maxHamming = 16, blockCombos = 2, maxBucketSize = cap)
        .select(col("id1"), col("id2"))
      // pairs are unique (fp-pairs are `.distinct()`, ids map to exactly
      // one fp group); the fold runs the lossless pipeline once
      RankingMetrics.recallVsExact(run(0), run(1024), Seq("id1", "id2"))
        .select(col("n_hits").as("n_kept"), col("n_exact").as("n_lossless"),
          round(col("n_hits").cast("double") / col("n_exact"), 4)
            .as("recall"))
    }, None),

    // --- Per-document text statistics + quality score ---
    ("t_text_stats", (s, d) =>
      TextAnalysis.documentStats(SparkEntry.T(s, d, "documents"), "doc_id",
        "text", Stopwords)
        .orderBy(col("doc_id")),
      Some(s"""WITH t AS (SELECT doc_id, text, $DuckTokens AS ts FROM documents)
              |SELECT doc_id,
              |CAST(len(ts) AS INTEGER) AS n_tokens,
              |CAST(length(text) AS INTEGER) AS n_chars,
              |list_sum(list_transform(ts, x -> CAST(length(x) AS BIGINT)))::DOUBLE / len(ts) AS avg_word_len,
              |(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE / length(text) AS punct_ratio,
              |len(list_filter(ts, x -> list_contains(['the','a','an','of','in','and','to','is'], x)))::DOUBLE / len(ts) AS stopword_ratio,
              |CAST(len(list_distinct(ts)) AS INTEGER) AS n_distinct_tokens,
              |least(greatest(
              |  least(len(ts) / 100.0, 1.0) * 0.4 +
              |  (1.0 - least((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE / length(text) * 5.0, 1.0)) * 0.3 +
              |  least(len(list_filter(ts, x -> list_contains(['the','a','an','of','in','and','to','is'], x)))::DOUBLE / len(ts) * 4.0, 1.0) * 0.3,
              |  0.0), 1.0) AS quality
              |FROM t ORDER BY doc_id""".stripMargin)),

    // --- TF-IDF per (doc, term): sklearn-smoothed idf = ln((1+N)/(1+df))+1 ---
    ("t_tfidf", (s, d) =>
      TextAnalysis.tfIdf(SparkEntry.T(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"), col("term")),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($DuckTokens) AS term FROM documents),
              |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
              |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
              |n AS (SELECT count(*) AS n_docs FROM documents)
              |SELECT doc_id, term, CAST(tf.tf AS BIGINT) AS tf,
              |CAST(dfq.df AS BIGINT) AS df,
              |round(tf.tf * (ln((1.0 + n_docs) / (1.0 + dfq.df)) + 1.0), 6) AS tfidf
              |FROM tf JOIN dfq USING(term) CROSS JOIN n
              |ORDER BY doc_id, term""".stripMargin)),

    // --- Corpus-filter pattern counts (C4/RefinedWeb-style heuristics) ---
    ("t_pattern_counts", (s, d) =>
      TextAnalysis.patternCounts(SparkEntry.T(s, d, "documents"), "doc_id",
        "text")
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS INTEGER) AS n_urls,
             |CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS INTEGER) AS n_emails,
             |CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_digit_runs,
             |CASE WHEN length(text) = 0 THEN 0.0 ELSE
             |  (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE / length(text)
             |END AS digit_ratio
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // --- Unigram log-prob quality score (CCNet-style LM proxy) ---
    ("t_unigram_logprob", (s, d) =>
      TextAnalysis.unigramLogProb(SparkEntry.T(s, d, "documents"), "doc_id",
        "text")
        .orderBy(col("doc_id")),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($DuckTokens) AS term FROM documents),
              |tc AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
              |tot AS (SELECT count(*) AS n_total FROM toks)
              |SELECT doc_id, count(*) AS n_tokens,
              |round(avg(ln(tc.c::DOUBLE / n_total)), 6) AS avg_logprob
              |FROM toks JOIN tc USING(term) CROSS JOIN tot
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // --- Bigram LM log-prob (one step up from the unigram CCNet proxy):
    //     mean ln(c(w1,w2)/c(w1·)) per doc, conditional counts as
    //     bigram-starts so table rows sum to 1; MLE safe (corpus scores
    //     itself). Docs with < 2 tokens keep 0/0. ---
    ("t_bigram_logprob", (s, d) =>
      TextAnalysis.bigramLogProb(SparkEntry.T(s, d, "documents"), "doc_id",
        "text")
        .orderBy(col("doc_id")),
      Some(s"""WITH t AS (SELECT doc_id, $DuckTokens AS ts FROM documents),
              |e AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)),
              |        i -> ts[i] || ' ' || ts[i+1])) AS b
              |      FROM t WHERE len(ts) >= 2),
              |w AS (SELECT doc_id, b, string_split(b, ' ')[1] AS w1 FROM e),
              |c AS (SELECT doc_id,
              |        count(*) OVER (PARTITION BY b) AS cb,
              |        count(*) OVER (PARTITION BY w1) AS cw FROM w),
              |sc AS (SELECT doc_id,
              |  round(avg(ln(cb::DOUBLE / cw)), 6) AS avg_bigram_logprob,
              |  count(*) AS n_bigrams FROM c GROUP BY doc_id)
              |SELECT d.doc_id,
              |coalesce(sc.avg_bigram_logprob, 0.0) AS avg_bigram_logprob,
              |coalesce(sc.n_bigrams, 0) AS n_bigrams
              |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
              |ORDER BY d.doc_id""".stripMargin)),

    // --- BPE merge learning (tokenizer training's core loop, word-
    //     granularity): 3 unrolled rounds of count-pairs → argmax →
    //     corpus-wide greedy merge, the g1_pagerank fixed-iteration
    //     pattern. Both engines run the IDENTICAL byte-level merge (plain
    //     replace on the double-spaced padded form — closed under the
    //     merge, no regex; merged names joined by chr(1), a char no
    //     corpus token contains), so the learned table is exactly
    //     comparable. ---
    ("t_bpe_merges", (s, d) =>
      TextAnalysis.bpeMerges(SparkEntry.T(s, d, "documents"), "text",
        iterations = 3),
      Some(BpeOracle3)),

    // --- BPE merge learning, MATERIALIZED-state form: per-iteration
    //     localCheckpoint cuts the O(k^2) replay the lazy chain pays --
    //     the shape a real 30K-merge trainer runs (per-step cost flat,
    //     measured k=16/64 at sf1: BENCH_SF10.md r13 addendum).
    //     Identical table to t_bpe_merges by construction, so it hashes
    //     against the SAME oracle. ---
    ("t_bpe_materialized", (s, d) =>
      TextAnalysis.bpeMergesMaterialized(SparkEntry.T(s, d, "documents"),
        "text", iterations = 3),
      Some(BpeOracle3)),

    // --- BPE ENCODE (the tokenizer-apply half): learn 3 merges with the
    //     materialized trainer, then rewrite the whole corpus through the
    //     table in ONE projection (constant plan size in k — the merge
    //     table folds into a single codegen'd aggregate over an array
    //     literal). Output is the per-doc token stream + the counts a
    //     packing / token-budget stage consumes. Oracle replays the
    //     identical learn-then-apply chain with doc_id carried through. ---
    ("t_bpe_encode", (s, d) =>
      TextAnalysis.bpeLearnEncode(SparkEntry.T(s, d, "documents"),
        "doc_id", "text", iterations = 3)
        .orderBy(col("doc_id")),
      Some(s"""$BpeEncodePrefix
              |SELECT doc_id,
              |  len(list_filter(string_split(norm, ' '),
              |    w -> len(w) > 0)) AS n_words,
              |  len(ts) AS n_bpe_tokens,
              |  len(list_filter(ts, t -> contains(t, chr(1))))
              |    AS n_merged_tokens,
              |  array_to_string(ts, ' ') AS bpe_text
              |FROM tok ORDER BY doc_id""".stripMargin)),

    // --- Post-encode vocabulary usage: the corpus frequency of every
    //     token the encoder actually emits (base words + chr(1)-joined
    //     merged tokens) — the table a vocab-coverage / UNK-budget
    //     decision reads after tokenizer training. Top-20 by (count desc,
    //     token asc); one explode + map-combined agg over the encoded
    //     stream. ---
    ("t_bpe_vocab_usage", (s, d) =>
      TextAnalysis.bpeLearnEncode(SparkEntry.T(s, d, "documents"),
        "doc_id", "text", iterations = 3)
        .select(explode(split(col("bpe_text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(20),
      Some(s"""$BpeEncodePrefix,
              |u AS (SELECT unnest(ts) AS token FROM tok)
              |SELECT token, count(*) AS cnt FROM u WHERE len(token) > 0
              |GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin)),

    // --- BPE ENCODE at tokenizer-scale merge count (VERDICT r13 top-next):
    //     a 256-entry table (top-256 adjacent pairs by count desc, l, r —
    //     one pass, all-base operands so any application order is valid
    //     BPE) applied through the rank-indexed lowest-rank-first kernel
    //     (BpeMergeKernel: O(applied·len) per doc, not O(k·len)). The
    //     oracle applies the IDENTICAL 256 replaces sequentially via a
    //     recursive CTE — so the hash match pins kernel ≡ sequential
    //     rank-order apply at k=256, on top of the ScalaTest differential
    //     vs the fold form. ---
    ("t_bpe_encode_scaled", (s, d) => {
      val docs = SparkEntry.T(s, d, "documents")
      val table = TextAnalysis.topPairTable(docs, "text", 256)
      TextAnalysis.bpeEncodeIndexed(docs, "doc_id", "text", table)
        .orderBy(col("doc_id"))
    },
      Some(s"""WITH RECURSIVE d0 AS (SELECT doc_id,
              |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm,
              |    ' ' || replace(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
              |      ' ', '  ') || ' ' AS st FROM documents),
              |t0 AS (SELECT string_split(norm, ' ') AS ts FROM d0
              |       WHERE len(string_split(norm, ' ')) >= 2),
              |p0 AS (SELECT u.s.l AS l, u.s.r AS r FROM t0, unnest(
              |  list_transform(range(1, len(ts)),
              |    i -> struct_pack(l := ts[i], r := ts[i+1])) ) AS u(s)),
              |b AS (SELECT l, r, row_number() OVER
              |    (ORDER BY count(*) DESC, l, r) AS rk
              |  FROM p0 GROUP BY l, r ORDER BY count(*) DESC, l, r LIMIT 256),
              |nb AS (SELECT count(*) AS n FROM b),
              |rec AS (
              |  SELECT doc_id, norm, st, CAST(0 AS BIGINT) AS rk FROM d0
              |  UNION ALL
              |  SELECT rec.doc_id, rec.norm,
              |    replace(rec.st, ' ' || b.l || '  ' || b.r || ' ',
              |      ' ' || b.l || chr(1) || b.r || ' ') AS st,
              |    rec.rk + 1 AS rk
              |  FROM rec JOIN b ON b.rk = rec.rk + 1),
              |fin AS (SELECT doc_id, norm, st FROM rec, nb WHERE rec.rk = nb.n),
              |tok AS (SELECT doc_id, norm,
              |  list_filter(regexp_split_to_array(trim(st), ' +'),
              |    t -> len(t) > 0) AS ts FROM fin)
              |SELECT doc_id,
              |  len(list_filter(string_split(norm, ' '),
              |    w -> len(w) > 0)) AS n_words,
              |  len(ts) AS n_bpe_tokens,
              |  len(list_filter(ts, t -> contains(t, chr(1))))
              |    AS n_merged_tokens,
              |  array_to_string(ts, ' ') AS bpe_text
              |FROM tok ORDER BY doc_id""".stripMargin)),

    // --- TOKEN-ID HANDOFF (VERDICT r14 top-next): the trainer-facing
    //     output format — learn 3 merges, BPE-encode, then assign DENSE
    //     INT IDS from the deterministic top-20 vocabulary (count desc,
    //     V = 20 < the corpus's 31+merges token types ON PURPOSE — the
    //     r11b de-vacuation lesson: at V = 50 every token was in-vocab and
    //     the OOV→0 branch never fired at the gate; at 20 real <unk> ids
    //     flow through encode, decode, and both packing rows —
    //     token asc → ids 1..50; OOV → 0) and emit the per-doc id
    //     sequence. The oracle replays the identical learn→encode chain
    //     (BpeEncodePrefix) AND the id assignment (row_number over the
    //     same ranked vocab), then compares the id arrays value-for-value
    //     via the canonical space-joined rendering (the driver's compare
    //     is scalar-typed — the ArrayType(Int) surface itself is
    //     schema-pinned in DedupTextSpec). Empty docs keep (0, 0, ''). ---
    ("t_token_ids", (s, d) =>
      TextAnalysis.bpeLearnEncodeIds(SparkEntry.T(s, d, "documents"),
        "doc_id", "text", iterations = 3, vocabSize = 20)
        .select(col("doc_id"), col("n_tokens"), col("n_unk"),
          array_join(transform(col("token_ids"), i => i.cast("string")), " ")
            .as("ids_str"))
        .orderBy(col("doc_id")),
      Some(s"""$BpeEncodePrefix,
              |u AS (SELECT unnest(ts) AS tok FROM tok),
              |v AS (SELECT tok, row_number() OVER
              |    (ORDER BY count(*) DESC, tok) AS tid
              |  FROM u GROUP BY tok ORDER BY count(*) DESC, tok LIMIT 20),
              |e AS (SELECT doc_id, x.s.p AS pos, x.s.tok AS tok FROM tok,
              |  unnest(list_transform(range(1, len(ts) + 1),
              |    i -> struct_pack(p := i - 1, tok := ts[i]))) AS x(s)),
              |m AS (SELECT doc_id, pos, coalesce(v.tid, 0) AS tid
              |      FROM e LEFT JOIN v USING (tok)),
              |ids AS (SELECT doc_id, count(*) AS n_tokens,
              |  count(*) FILTER (WHERE tid = 0) AS n_unk,
              |  string_agg(tid::VARCHAR, ' ' ORDER BY pos) AS ids_str
              |  FROM m GROUP BY doc_id)
              |SELECT d.doc_id, coalesce(i.n_tokens, 0) AS n_tokens,
              |  coalesce(i.n_unk, 0) AS n_unk,
              |  coalesce(i.ids_str, '') AS ids_str
              |FROM (SELECT doc_id FROM documents) d
              |LEFT JOIN ids i USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // --- Tokenizer FERTILITY per language — the metric a tokenizer is
    //     judged by before training (tokens emitted per word; chars per
    //     token): learn 3 merges, encode, aggregate per lang. Ratios ship
    //     as integer ppm (x·10⁶ div — engine-identical integer math; a
    //     float ratio rounded at 6 decimals can straddle the .5 boundary
    //     differently across engines). A fertility regression per lang is
    //     how a vocab/merge-budget change is caught before a run. ---
    ("t_fertility", (s, d) => {
      val docs = SparkEntry.T(s, d, "documents")
      TextAnalysis.bpeLearnEncode(docs, "doc_id", "text", iterations = 3)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(sum(col("n_words")).as("n_words"),
          sum(col("n_bpe_tokens")).as("n_bpe_tokens"),
          sum(length(translate(col("bpe_text"), " ", ""))
            .cast("long")).as("n_chars"))
        // nullif on the divisors (ADVICE r15): a lang whose docs are all
        // empty is NULL in both engines — Spark `div 0` yields NULL but
        // DuckDB `// 0` ERRORS, exactly the cross-engine divergence the
        // integer-ppm device exists to avoid.
        .select(col("lang"), col("n_words"), col("n_bpe_tokens"),
          expr("n_bpe_tokens * 1000000 div nullif(n_words, 0)")
            .as("fertility_ppm"),
          expr("n_chars * 1000000 div nullif(n_bpe_tokens, 0)")
            .as("chars_per_tok_ppm"))
        .orderBy(col("lang"))
    },
      Some(s"""$BpeEncodePrefix,
              |per AS (SELECT t.doc_id, dd.lang,
              |  len(list_filter(string_split(t.norm, ' '),
              |    w -> len(w) > 0)) AS nw,
              |  len(t.ts) AS nt,
              |  len(replace(array_to_string(t.ts, ''), ' ', '')) AS nc
              |  FROM tok t JOIN documents dd USING (doc_id)),
              |ag AS (SELECT lang, CAST(sum(nw) AS BIGINT) AS n_words,
              |  CAST(sum(nt) AS BIGINT) AS n_bpe_tokens,
              |  CAST(sum(nc) AS BIGINT) AS n_chars FROM per GROUP BY lang)
              |SELECT lang, n_words, n_bpe_tokens,
              |  (n_bpe_tokens * 1000000) // nullif(n_words, 0) AS fertility_ppm,
              |  (n_chars * 1000000) // nullif(n_bpe_tokens, 0) AS chars_per_tok_ppm
              |FROM ag ORDER BY lang""".stripMargin)),

    // --- Tokenizer fertility, FROZEN form (VERDICT r15 next #8) — the
    //     production regression check: the tokenizer is learned on one
    //     slice (even doc_ids, the "offline" corpus), FROZEN, and fertility
    //     is measured on unseen data (odd doc_ids) through the shipped
    //     merge table. The encode side is [[TextAnalysis.bpeEncode]]'s
    //     stateless fold — no corpus pass, streaming-compatible. Oracle:
    //     DuckDB replays the learn chain on the train slice to recover the
    //     3 merges, then applies them in order to the eval slice. ---
    ("t_fertility_frozen", (s, d) => {
      val docs = SparkEntry.T(s, d, "documents")
      val train = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      val eval = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      val table = TextAnalysis.bpeMergesMaterialized(train, "text", 3)
        .orderBy(col("step")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeEncode(eval, "doc_id", "text", table)
        .join(eval.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(sum(col("n_words")).as("n_words"),
          sum(col("n_bpe_tokens")).as("n_bpe_tokens"),
          sum(length(translate(col("bpe_text"), " ", ""))
            .cast("long")).as("n_chars"))
        .select(col("lang"), col("n_words"), col("n_bpe_tokens"),
          expr("n_bpe_tokens * 1000000 div nullif(n_words, 0)")
            .as("fertility_ppm"),
          expr("n_chars * 1000000 div nullif(n_bpe_tokens, 0)")
            .as("chars_per_tok_ppm"))
        .orderBy(col("lang"))
    },
      Some(s"""${bpeEncodePrefixFrom("tr",
                "tr AS (SELECT * FROM documents WHERE doc_id % 2 = 0),")},
              |e0 AS (SELECT doc_id, lang,
              |  trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm,
              |  ' ' || replace(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
              |    ' ', '  ') || ' ' AS st
              |  FROM documents WHERE doc_id % 2 = 1),
              |e1 AS (SELECT doc_id, lang, norm, CASE WHEN b1.l IS NULL THEN st ELSE
              |  replace(st, ' ' || b1.l || '  ' || b1.r || ' ',
              |    ' ' || b1.l || chr(1) || b1.r || ' ') END AS st
              |  FROM e0 LEFT JOIN b1 ON TRUE),
              |e2 AS (SELECT doc_id, lang, norm, CASE WHEN b2.l IS NULL THEN st ELSE
              |  replace(st, ' ' || b2.l || '  ' || b2.r || ' ',
              |    ' ' || b2.l || chr(1) || b2.r || ' ') END AS st
              |  FROM e1 LEFT JOIN b2 ON TRUE),
              |e3 AS (SELECT doc_id, lang, norm, CASE WHEN b3.l IS NULL THEN st ELSE
              |  replace(st, ' ' || b3.l || '  ' || b3.r || ' ',
              |    ' ' || b3.l || chr(1) || b3.r || ' ') END AS st
              |  FROM e2 LEFT JOIN b3 ON TRUE),
              |etok AS (SELECT doc_id, lang, norm,
              |  list_filter(regexp_split_to_array(trim(st), ' +'),
              |    t -> len(t) > 0) AS ts FROM e3),
              |eper AS (SELECT lang,
              |  len(list_filter(string_split(norm, ' '),
              |    w -> len(w) > 0)) AS nw,
              |  len(ts) AS nt,
              |  len(replace(array_to_string(ts, ''), ' ', '')) AS nc
              |  FROM etok),
              |eag AS (SELECT lang, CAST(sum(nw) AS BIGINT) AS n_words,
              |  CAST(sum(nt) AS BIGINT) AS n_bpe_tokens,
              |  CAST(sum(nc) AS BIGINT) AS n_chars FROM eper GROUP BY lang)
              |SELECT lang, n_words, n_bpe_tokens,
              |  (n_bpe_tokens * 1000000) // nullif(n_words, 0) AS fertility_ppm,
              |  (n_chars * 1000000) // nullif(n_bpe_tokens, 0) AS chars_per_tok_ppm
              |FROM eag ORDER BY lang""".stripMargin)),

    // --- Token-ID DECODE (the inverse half of the trainer handoff):
    //     decode the id arrays back to text through the shipped vocab —
    //     id 0/unknown → <unk>, merged-token joiners → spaces. The oracle
    //     replays learn → encode → vocab → id-assign → decode; equality is
    //     byte-for-byte text, closing the round trip the gate can see. ---
    ("t_token_ids_roundtrip", (s, d) => {
      val docs = SparkEntry.T(s, d, "documents")
      val table = TextAnalysis.bpeMergesMaterialized(docs, "text", 3)
        .orderBy(col("step")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val vocab = TextAnalysis.bpeVocabIds(docs, "text", table, 20)
      TextAnalysis.bpeEncodeIds(docs, "doc_id", "text", table, 20)
        .select(col("doc_id"),
          TextAnalysis.decodeTokenIds(col("token_ids"), vocab)
            .as("decoded_text"))
        .orderBy(col("doc_id"))
    },
      Some(s"""$BpeEncodePrefix,
              |u AS (SELECT unnest(ts) AS tok FROM tok),
              |v AS (SELECT tok, row_number() OVER
              |    (ORDER BY count(*) DESC, tok) AS tid
              |  FROM u GROUP BY tok ORDER BY count(*) DESC, tok LIMIT 20),
              |e AS (SELECT doc_id, x.s.p AS pos, x.s.tok AS tok FROM tok,
              |  unnest(list_transform(range(1, len(ts) + 1),
              |    i -> struct_pack(p := i - 1, tok := ts[i]))) AS x(s)),
              |m AS (SELECT doc_id, pos,
              |  CASE WHEN v.tid IS NOT NULL THEN replace(tok, chr(1), ' ')
              |       ELSE '<unk>' END AS dtok
              |  FROM e LEFT JOIN v USING (tok)),
              |dd AS (SELECT doc_id,
              |  string_agg(dtok, ' ' ORDER BY pos) AS decoded_text
              |  FROM m GROUP BY doc_id)
              |SELECT d.doc_id, coalesce(dd.decoded_text, '') AS decoded_text
              |FROM (SELECT doc_id FROM documents) d
              |LEFT JOIN dd USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // --- BM25 corpus scoring against a fixed query (Okapi, Lucene idf):
    //     the classic retrieval scorer over the documents table; one
    //     exploded pass pre-filtered to the query terms, df via window
    //     over the tiny tf frame. ---
    ("t_bm25", (s, d) =>
      TextAnalysis.bm25(SparkEntry.T(s, d, "documents"), "doc_id", "text",
        Seq("data", "query", "join"))
        .orderBy(col("doc_id")),
      Some(s"""WITH t AS (SELECT doc_id, $DuckTokens AS ts FROM documents),
              |dl AS (SELECT doc_id, len(ts)::DOUBLE AS dl FROM t),
              |stats AS (SELECT count(*)::DOUBLE AS n, avg(len(ts)) AS avgdl FROM t),
              |tok AS (SELECT doc_id, unnest(ts) AS term FROM t),
              |tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
              |       WHERE term IN ('data', 'query', 'join') GROUP BY 1, 2),
              |dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
              |sc AS (SELECT tf.doc_id,
              |  sum(ln(1 + (n - df + 0.5) / (df + 0.5)) * tf * (1.2 + 1) /
              |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) AS s
              |  FROM tf JOIN dfq USING(term) JOIN dl USING(doc_id)
              |  CROSS JOIN stats GROUP BY 1)
              |SELECT d.doc_id, round(coalesce(sc.s, 0), 6) AS bm25
              |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
              |ORDER BY d.doc_id""".stripMargin)),

    // --- Repetition ratio (MassiveText/Gopher-style quality signal): the
    //     fraction of duplicate word n-grams within each document — high
    //     values flag boilerplate/looping text for corpus filtering. Pure
    //     per-row HOFs over the existing shingle kernel, zero shuffles. ---
    ("t_repetition", (s, d) => {
      def rep(n: Int) = {
        val sh = Dedup.wordShingles(col("text"), n)
        round(lit(1.0) - size(array_distinct(sh)).cast("double") / size(sh), 6)
      }
      SparkEntry.T(s, d, "documents")
        .select(col("doc_id"), rep(2).as("rep_2gram"), rep(3).as("rep_3gram"))
        .orderBy(col("doc_id"))
    },
      Some(s"""WITH t AS (SELECT doc_id, $DuckTokens AS ts FROM documents),
              |g AS (SELECT doc_id,
              |  CASE WHEN len(ts) < 2 THEN [array_to_string(ts, ' ')]
              |       ELSE list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1]) END AS g2,
              |  CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
              |       ELSE list_transform(range(1, len(ts) - 1), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) END AS g3
              |  FROM t)
              |SELECT doc_id,
              |round(1.0 - len(list_distinct(g2))::DOUBLE / len(g2), 6) AS rep_2gram,
              |round(1.0 - len(list_distinct(g3))::DOUBLE / len(g3), 6) AS rep_3gram
              |FROM g ORDER BY doc_id""".stripMargin)),

    // --- Gopher repetition CHARACTER fractions (Rae et al. 2021 A1.1),
    //     the thresholds MassiveText actually filters on — top-n-gram
    //     char coverage (n=2,3,4) and duplicated-n-gram positional-UNION
    //     char coverage (merged intervals, overlap counted once).
    //     Complements t_repetition's count fractions: a doc looping one
    //     long phrase has low dup-gram COUNT fraction but high CHAR
    //     fraction. Gated at n∈{2,3} for the union family because the
    //     synthetic corpus has no intra-doc ≥5-gram repeats (349/27 docs
    //     non-vacuous at n=2/3, measured); the paper's 5..10 settings
    //     are parameters. Integer ppm for engine parity. ---
    ("t_gopher_rep", (s, d) =>
      TextAnalysis.gopherRepetition(SparkEntry.T(s, d, "documents"),
        "doc_id", "text", topNs = Seq(2, 3, 4), dupNs = Seq(2, 3))
        .orderBy(col("doc_id")),
      Some(s"$GopherRepSql\nORDER BY doc_id")),

    // --- Gopher filter APPLICATION: the MassiveText quality gate over
    //     the repetition char fractions — the paper's own thresholds for
    //     the top-n-gram family (0.20/0.18/0.16 as ppm), plus a
    //     corpus-adapted dup-2-gram union cap (the paper's dup-5..10
    //     thresholds are vacuous on this corpus — no intra-doc ≥5-gram
    //     repeats). Every predicate bites at sf0.01 (cuts 9/31/75/10
    //     docs; 416/500 survive). Oracle replays the full metric chain
    //     and the WHERE. ---
    ("t_gopher_filter", (s, d) =>
      TextAnalysis.gopherRepetition(SparkEntry.T(s, d, "documents"),
        "doc_id", "text", topNs = Seq(2, 3, 4), dupNs = Seq(2, 3))
        .filter(col("top2gram_ppm") <= 200000 &&
          col("top3gram_ppm") <= 180000 &&
          col("top4gram_ppm") <= 160000 &&
          col("dup2gram_ppm") <= 300000)
        .select(col("doc_id"), col("top2gram_ppm"), col("top3gram_ppm"),
          col("top4gram_ppm"), col("dup2gram_ppm"))
        .orderBy(col("doc_id")),
      Some(s"""WITH g AS ($GopherRepSql)
              |SELECT doc_id, top2gram_ppm, top3gram_ppm, top4gram_ppm,
              |  dup2gram_ppm
              |FROM g
              |WHERE top2gram_ppm <= 200000 AND top3gram_ppm <= 180000
              |  AND top4gram_ppm <= 160000 AND dup2gram_ppm <= 300000
              |ORDER BY doc_id""".stripMargin)),

    // --- Token containment (Broder): asymmetric near-dup score
    //     |A∩B| / |A| — catches subset duplication (quotes, boilerplate
    //     wrappers, truncations) that Jaccard under-scores when |B| ≫ |A|.
    //     Same bucketed posting-list join as d_token_jaccard; directed
    //     pairs. ---
    ("d_containment", (s, d) =>
      Dedup.tokenContainmentPairs(SparkEntry.T(s, d, "documents"), "doc_id",
        "text", 0.9, bucketCols = Seq("lang", "source"))
        .orderBy(col("id1"), col("id2")),
      Some(s"""WITH toks AS (SELECT doc_id, lang, source,
              |  list_distinct($DuckTokens) AS ts FROM documents),
              |pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
              |  len(list_intersect(a.ts, b.ts))::DOUBLE / len(a.ts) AS containment
              |  FROM toks a JOIN toks b
              |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id <> b.doc_id)
              |SELECT id1, id2, containment FROM pairs WHERE containment >= 0.9
              |ORDER BY id1, id2""".stripMargin)),

    // --- Int8 embedding quantization recall self-check: exact cosine
    //     top-5 vs top-5 over int8-quantized-then-reconstructed vectors,
    //     plus the mean reconstruction error — the 4× memory cut's
    //     accuracy cost as a measured number (same shape as
    //     ann_cluster_recall). ---
    ("r13_int8_recall", (s, d) => {
      val e = SparkEntry.T(s, d, "embeddings")
      val recon = e
        .withColumn("__sc", Vectors.int8Scale(col("embedding")))
        .withColumn("__qv", Vectors.int8Dequantize(
          Vectors.int8Quantize(col("embedding"), col("__sc")), col("__sc")))
      val exact = Similarity.bruteForceTopK(e.filter(col("vec_id") < 50), e,
        "vec_id", "vec_id", "embedding", 5, "cosine", excludeSelf = true)
        .select(col("query_id"), col("item_id"))
      val items8 = recon.select(col("vec_id"), col("__qv").as("embedding"))
      val approx = Similarity.bruteForceTopK(
        items8.filter(col("vec_id") < 50), items8,
        "vec_id", "vec_id", "embedding", 5, "cosine", excludeSelf = true)
        .select(col("query_id"), col("item_id"))
      val err = recon.select(
        avg(aggregate(
          zip_with(col("embedding"), col("__qv"),
            (a, b) => abs(a.cast("double") - b)),
          lit(0.0), (acc, x) => acc + x) / size(col("embedding")))
          .as("__mae"))
      RankingMetrics.recallVsExact(exact, approx, Seq("query_id", "item_id"))
        .crossJoin(err)
        .select(col("n_hits"), col("n_exact"),
          round(col("n_hits").cast("double") / col("n_exact"), 4).as("recall"),
          round(col("__mae"), 6).as("mean_abs_err"))
    }, None),

    // --- Product-quantization recall self-check (r13_int8_recall's
    //     shape, two compression decades further): exact cosine top-5 vs
    //     (a) raw PQ/ADC top-5 and (b) ADC + exact re-rank (the faiss
    //     refine pattern) on the SAME codebook — items carry m small
    //     codes instead of dim floats (dim·4/m = 16× here; int8 is 4×),
    //     each query pays one LUT build then m lookups per candidate.
    //     Both recalls are measured IN-QUERY every round like the ANN
    //     rows (sweep in COVERAGE: adc 0.20→0.76, refined up to 0.98);
    //     VectorSpec pins the ksub→∞ limit (every subvector a centroid ⇒
    //     ADC ≡ exact ⇒ recall 1). ---
    ("r14_pq_recall", (s, d) => {
      val e = SparkEntry.T(s, d, "embeddings")
      val cb = Similarity.pqTrain(e, "vec_id", "embedding",
        m = 16, ksub = 64, refineIters = 2)
      val exact = Similarity.bruteForceTopK(e.filter(col("vec_id") < 50), e,
        "vec_id", "vec_id", "embedding", 5, "cosine", excludeSelf = true)
        .select(col("query_id"), col("item_id"))
      // codes-only catalog encoded ONCE for both arms (r19, guide §2.4):
      // the adc and refined arms are separate crossJoined subtrees, so
      // each otherwise re-runs the m NearestCentroids encodes per row
      val enc = Similarity.pqEncodedItems(e, "vec_id", "embedding", cb)
        .localCheckpoint(true)
      // ONE ADC pass for BOTH arms (r20, guide §2.4 — VERDICT r19 #1):
      // the adc arm's top-5 is the rank ≤ 5 prefix of the refined arm's
      // k·R shortlist (R = 10; same deterministic (score desc, item)
      // window), so shortlist once at k·R and checkpoint —
      // the old shape scored the codes catalog once per arm.
      val short = Similarity.pqTopK(e.filter(col("vec_id") < 50), enc,
        "vec_id", "embedding", 5 * 10, cb, excludeSelf = true)
        .localCheckpoint(true)
      val adcTop = short.filter(col("rank") <= 5)
        .select(col("query_id"), col("item_id"))
      val refTop = Similarity.rerankExactTopK(
        short.select(col("query_id"), col("item_id")),
        e.filter(col("vec_id") < 50), e, "vec_id", "vec_id", "embedding",
        5, cb.metric)
        .select(col("query_id"), col("item_id"))
      val armed = adcTop.withColumn("__arm", lit("a"))
        .unionAll(refTop.withColumn("__arm", lit("r")))
      RankingMetrics.recallVsExact(exact, armed, Seq("query_id", "item_id"),
          Seq("__arm"))
        .agg(max(col("n_exact")).as("n_exact"),
          armHits(col("__arm") === "a").as("n_adc"),
          armHits(col("__arm") === "r").as("n_refined"))
        .select(lit(cb.m).as("m"), lit(cb.ksub).as("ksub"), col("n_exact"),
          round(col("n_adc").cast("double") / col("n_exact"), 4)
            .as("recall_adc"),
          round(col("n_refined").cast("double") / col("n_exact"), 4)
            .as("recall_refined"),
          round(lit(cb.dim * 4.0 / cb.m), 2).as("compression_x"))
    }, None),

    // --- IVF∘PQ recall (the faiss `IVFx,PQy` composition — the serving
    //     form at catalog scale): BOTH loss terms measured against the
    //     same exact baseline — cluster pruning (nprobe/nlist of the
    //     catalog scored) × quantization (ADC on m codes), plus the
    //     exact re-rank tail that recovers most of the quantization
    //     loss. VectorSpec pins the limits (nprobe=nlist ⇒ pure PQ;
    //     + refine covering the catalog ⇒ exact). ---
    ("r14b_ivfpq_recall", (s, d) => {
      val e = SparkEntry.T(s, d, "embeddings")
      val cb = Similarity.pqTrain(e, "vec_id", "embedding",
        m = 16, ksub = 64, refineIters = 2)
      val exact = Similarity.bruteForceTopK(e.filter(col("vec_id") < 50), e,
        "vec_id", "vec_id", "embedding", 5, "cosine", excludeSelf = true)
        .select(col("query_id"), col("item_id"))
      // (centroids, encoded catalog) built ONCE for all four arms (r19,
      // guide §2.4): every arm otherwise re-seeds centroids and re-runs
      // the m NearestCentroids encodes + assignment over the catalog in
      // its own crossJoined subtree
      val prepped = {
        val (c, ic) = Similarity.pqPrunedCatalog(e, "vec_id", "embedding",
          cb, nlist = 16)
        (c.localCheckpoint(true), ic.localCheckpoint(true))
      }
      // two operating points: the pruning term is the dominant loss on
      // geometry-free synthetic embeddings (true neighbors spread across
      // clusters), so the row carries the nprobe knob's effect every round.
      // ONE candidate pass for ALL FOUR arms (r20, guide §2.4 — VERDICT
      // r19 #1): the multi-arm shortlist probes once at max(nprobe),
      // fans candidates by probe rank, ranks in one (nprobe, query)
      // window; both refined arms re-score in one catalog scan. The old
      // shape paid a probe window + LUT broadcast + codes scan + rank
      // window PER ARM (4×).
      val nprobes = Seq(4, 8)
      val short = Similarity.clusterPrunedShortlistPqMulti(
        e.filter(col("vec_id") < 50), prepped, "vec_id", "embedding",
        5 * 10, cb, nprobes = nprobes, excludeSelf = true)
        .localCheckpoint(true)
      val adcTop = short.filter(col("rank") <= 5)
        .select(col("nprobe"), col("query_id"), col("item_id"))
      val refTop = Similarity.rerankExactTopK(
        short.select(col("nprobe"), col("query_id"), col("item_id")),
        e.filter(col("vec_id") < 50), e, "vec_id", "vec_id", "embedding",
        5, cb.metric, armCols = Seq("nprobe"))
        .select(col("nprobe"), col("query_id"), col("item_id"))
      val armed = adcTop.withColumn("__arm", lit("a"))
        .unionAll(refTop.withColumn("__arm", lit("r")))
      RankingMetrics.recallVsExact(exact, armed, Seq("query_id", "item_id"),
          Seq("nprobe", "__arm"))
        .groupBy(col("nprobe"))
        .agg(max(col("n_exact")).as("n_exact"),
          armHits(col("__arm") === "a").as("n_ivfpq"),
          armHits(col("__arm") === "r").as("n_refined"))
        .select(lit(cb.m).as("m"), lit(cb.ksub).as("ksub"),
          lit(16).as("nlist"), col("nprobe"), col("n_exact"),
          round(col("n_ivfpq").cast("double") / col("n_exact"), 4)
            .as("recall_ivfpq"),
          round(col("n_refined").cast("double") / col("n_exact"), 4)
            .as("recall_refined"))
        .orderBy(col("nprobe"))
    }, None),

    // --- Residual IVF∘PQ recall (faiss `IVFx,PQy` PARITY — faiss encodes
    //     RESIDUALS vec − coarse centroid, so the m·ksub codebook budget
    //     only has to span within-cell displacement, not the whole
    //     space): same operating points as r14b_ivfpq_recall (nlist=16,
    //     nprobe ∈ {4,8}, m=16, ksub=64), and coarseIters=0 keeps the
    //     coarse table IDENTICAL to the raw arm's pickCentroids(seed=42)
    //     pick — any recall delta vs r14b's rows is pure quantization,
    //     the pruning loss term is shared. VectorSpec pins the limits
    //     (ksub ≥ catalog ⇒ residual ADC exact ⇒ recall 1; refine tail ⇒
    //     exact scores). ---
    ("r14c_ivfpq_residual", (s, d) => {
      val e = SparkEntry.T(s, d, "embeddings")
      val idx = Similarity.ivfPqTrain(e, "vec_id", "embedding",
        m = 16, ksub = 64, nlist = 16)
      val exact = Similarity.bruteForceTopK(e.filter(col("vec_id") < 50), e,
        "vec_id", "vec_id", "embedding", 5, "cosine", excludeSelf = true)
        .select(col("query_id"), col("item_id"))
      // residual-encoded catalog built ONCE for all four arms (r19,
      // guide §2.4): the assignment kernel + m residual encodes per row
      // otherwise re-ran per arm in its own crossJoined subtree
      val enc = Similarity.residualEncodedCatalog(e, "vec_id",
        "embedding", idx).localCheckpoint(true)
      // ONE candidate pass for ALL FOUR arms (r20, guide §2.4 — VERDICT
      // r19 #1): the multi-arm residual shortlist probes once at
      // max(nprobe) with per-probe-pair LUTs, fans candidates by probe
      // rank, ranks in one (nprobe, query) window; both refined arms
      // re-score in one catalog scan.
      val nprobes = Seq(4, 8)
      val short = Similarity.clusterPrunedShortlistPqResidualMulti(
        e.filter(col("vec_id") < 50), enc, "vec_id", "embedding",
        5 * 10, idx, nprobes = nprobes, excludeSelf = true)
        .localCheckpoint(true)
      val adcTop = short.filter(col("rank") <= 5)
        .select(col("nprobe"), col("query_id"), col("item_id"))
      val refTop = Similarity.rerankExactTopK(
        short.select(col("nprobe"), col("query_id"), col("item_id")),
        e.filter(col("vec_id") < 50), e, "vec_id", "vec_id", "embedding",
        5, idx.metric, armCols = Seq("nprobe"))
        .select(col("nprobe"), col("query_id"), col("item_id"))
      val armed = adcTop.withColumn("__arm", lit("a"))
        .unionAll(refTop.withColumn("__arm", lit("r")))
      RankingMetrics.recallVsExact(exact, armed, Seq("query_id", "item_id"),
          Seq("nprobe", "__arm"))
        .groupBy(col("nprobe"))
        .agg(max(col("n_exact")).as("n_exact"),
          armHits(col("__arm") === "a").as("n_res"),
          armHits(col("__arm") === "r").as("n_refined"))
        .select(lit(idx.cb.m).as("m"), lit(idx.cb.ksub).as("ksub"),
          lit(idx.nlist).as("nlist"), col("nprobe"), col("n_exact"),
          round(col("n_res").cast("double") / col("n_exact"), 4)
            .as("recall_res_adc"),
          round(col("n_refined").cast("double") / col("n_exact"), 4)
            .as("recall_res_refined"))
        .orderBy(col("nprobe"))
    }, None),

    // --- Residual IVF∘PQ on the corpus where the mechanism WORKS (r17
    //     verdict #4): r14c runs on the driver's geometry-free table,
    //     where cell means ≈ 0 and residual ≈ raw BY CONSTRUCTION
    //     (ANN_CURVE r17) — so a regression in the residual path is
    //     invisible there. This row re-measures raw-vs-residual every
    //     round on the deterministic hash-derived mixture-of-Gaussians
    //     corpus (the d_semantic_recall_geo device at cluster
    //     granularity — SyntheticData.mogCorpus, no RNG, same
    //     rows every run; the sf dir is intentionally unused: the
    //     corpus IS the planted geometry) at the adjudicated operating
    //     point mog:2000:16:0.15, lloyd=2, nprobe=4, m=16, ksub=64,
    //     nlist=16 — where r17 measured raw ADC 0.276 vs res ADC 0.480
    //     (+74% relative) and ONLY the residual arm responds to Lloyd
    //     (the mechanism's signature). Identical coarse table across
    //     arms (same pickCentroids seed + refine), so the delta is pure
    //     quantization. No SQL oracle (native kernels + recall
    //     measurement); VectorSpec pins the structural margin. ---
    ("r14d_ivfpq_residual_geo", (s, _) => {
      val e = SyntheticData.mogCorpus(s, 2000, 16, 0.15)
        .localCheckpoint(true)
      val lloyd = 2; val nprobe = 4; val nlist = 16; val k = 5
      val queries = e.filter(col("vec_id") < 50)
      val exact = Similarity.bruteForceTopK(queries, e,
        "vec_id", "vec_id", "embedding", k, "cosine", excludeSelf = true)
        .select(col("query_id"), col("item_id"))
      // Codebook trainings memoized per JVM (VERDICT r18 #6: the gate
      // retrained BOTH codebooks every invocation — 18.6 s constant, the
      // second-heaviest registry row — but the MoG corpus and both
      // training procedures are fully deterministic, so the trained
      // index is a fixture like c5's catalog; the recall arms, the
      // row's actual signal, are re-measured every run).
      val (cbRaw, idx) = r14dTrainedCache.synchronized {
        val appId = s.sparkContext.applicationId
        r14dTrainedCache.get(appId) match {
          case Some(t) => t
          case None =>
            val t = (Similarity.pqTrain(e, "vec_id", "embedding",
              m = 16, ksub = 64, refineIters = 2),
              Similarity.ivfPqTrain(e, "vec_id", "embedding",
                m = 16, ksub = 64, nlist = nlist, coarseIters = lloyd))
            r14dTrainedCache.clear() // at most one appId's fixtures live
            r14dTrainedCache(appId) = t
            t
        }
      }
      // shared catalogs per arm FAMILY (r19, guide §2.4): the raw arms
      // otherwise each re-seed + 2-Lloyd-refine centroids and re-encode
      // the corpus; the residual arms each re-assign + residual-encode it
      val rawPrepped = {
        val (c, ic) = Similarity.pqPrunedCatalog(e, "vec_id", "embedding",
          cbRaw, nlist = nlist, refineIters = lloyd)
        (c.localCheckpoint(true), ic.localCheckpoint(true))
      }
      val resEnc = Similarity.residualEncodedCatalog(e, "vec_id",
        "embedding", idx).localCheckpoint(true)
      // ONE candidate pass per arm FAMILY (r20, guide §2.4 — VERDICT r19
      // #1): each family's adc top-k is the rank ≤ k prefix of its
      // k·R shortlist (R = 10; same deterministic window), so the raw
      // and residual pipelines each score candidates ONCE, one union
      // checkpoint materializes both, and BOTH refined arms re-score in
      // one catalog scan. The old shape ran 4 candidate passes + 2
      // rescore scans.
      val shortAll = Similarity.clusterPrunedShortlistPqMulti(queries,
        rawPrepped, "vec_id", "embedding", k * 10, cbRaw,
        nprobes = Seq(nprobe), excludeSelf = true)
        .select(col("query_id"), col("rank"), col("item_id"))
        .withColumn("__fam", lit("raw"))
        .unionAll(Similarity.clusterPrunedShortlistPqResidualMulti(
          queries, resEnc, "vec_id", "embedding", k * 10, idx,
          nprobes = Seq(nprobe), excludeSelf = true)
          .select(col("query_id"), col("rank"), col("item_id"))
          .withColumn("__fam", lit("res")))
        .localCheckpoint(true)
      val adcTop = shortAll.filter(col("rank") <= k)
        .select(col("__fam"), col("query_id"), col("item_id"))
      val refTop = Similarity.rerankExactTopK(
        shortAll.select(col("__fam"), col("query_id"), col("item_id")),
        queries, e, "vec_id", "vec_id", "embedding", k, idx.metric,
        armCols = Seq("__fam"))
        .select(col("__fam"), col("query_id"), col("item_id"))
      val armed = adcTop.withColumn("__arm", lit("a"))
        .unionAll(refTop.withColumn("__arm", lit("r")))
      def hitsOf(fam: String, arm: String) =
        armHits(col("__fam") === fam && col("__arm") === arm)
      RankingMetrics.recallVsExact(exact, armed, Seq("query_id", "item_id"),
          Seq("__fam", "__arm"))
        .agg(max(col("n_exact")).as("n_exact"),
          hitsOf("raw", "a").as("n_raw_adc"),
          hitsOf("res", "a").as("n_res_adc"),
          hitsOf("raw", "r").as("n_raw_ref"),
          hitsOf("res", "r").as("n_res_ref"))
        .select(
          lit(16).as("m"), lit(64).as("ksub"), lit(nlist).as("nlist"),
          lit(nprobe).as("nprobe"), lit(lloyd).as("lloyd"),
          col("n_exact"),
          round(col("n_raw_adc").cast("double") / col("n_exact"), 4)
            .as("recall_raw_adc"),
          round(col("n_res_adc").cast("double") / col("n_exact"), 4)
            .as("recall_res_adc"),
          round(col("n_raw_ref").cast("double") / col("n_exact"), 4)
            .as("recall_raw_refined"),
          round(col("n_res_ref").cast("double") / col("n_exact"), 4)
            .as("recall_res_refined"),
          round((col("n_res_adc") - col("n_raw_adc")).cast("double") /
            col("n_exact"), 4).as("res_minus_raw_adc"))
    }, None),

    // --- Corpus heavy hitters: global top-50 terms. TakeOrdered top-k
    //     (no full sort); the rank is recovered by sorting the ≤50
    //     survivors inside ONE array and posexploding — no unpartitioned
    //     rank window (single-partition WindowExec + Spark's "No
    //     Partition Defined for Window" warning), same device as the
    //     eval top-100 and pickCentroids. ---
    ("t_vocab_topk", (s, d) => {
      val counts = SparkEntry.T(s, d, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term")).limit(50)
      counts
        .agg(sort_array(collect_list(struct(
          (-col("cnt")).as("nc"), col("term"), col("cnt")))).as("__t"))
        .select(posexplode(col("__t")).as(Seq("__p", "__s")))
        .select(col("__s.term").as("term"), col("__s.cnt").as("cnt"),
          (col("__p") + 1).cast("bigint").as("trank"))
        .orderBy(col("trank"))
    },
      Some(s"""WITH toks AS (SELECT unnest($DuckTokens) AS term FROM documents),
              |c AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term)
              |SELECT term, cnt,
              |row_number() OVER (ORDER BY cnt DESC, term) AS trank
              |FROM c ORDER BY trank LIMIT 50""".stripMargin)),

    // --- Vocabulary truncation / UNK rewrite — the step between vocab
    //     selection (t_vocab_topk / the MG heavy hitters at open-vocab
    //     scale) and training: tokens outside the top-20 corpus vocab
    //     become <unk>, documents re-emitted positionally intact. The
    //     oracle replays the same (count desc, term asc) vocab cut and
    //     compares the rewritten text byte-for-byte. ---
    ("t_unk_rewrite", (s, d) =>
      TextAnalysis.unkRewrite(SparkEntry.T(s, d, "documents"),
        "doc_id", "text", vocabSize = 20)
        .orderBy(col("doc_id")),
      Some(s"""WITH t AS (SELECT doc_id, $DuckTokens AS ts FROM documents),
              |toks AS (SELECT doc_id, u.x.p AS pos, u.x.tok AS tok FROM t,
              |  unnest(list_transform(range(1, len(ts) + 1),
              |    i -> struct_pack(p := i - 1, tok := ts[i]))) AS u(x)),
              |v AS (SELECT tok FROM (SELECT tok, count(*) AS c FROM toks
              |  GROUP BY 1 ORDER BY c DESC, tok LIMIT 20)),
              |m AS (SELECT doc_id, pos,
              |  CASE WHEN tok IN (SELECT tok FROM v) THEN tok
              |       ELSE '<unk>' END AS outtok,
              |  tok IN (SELECT tok FROM v) AS inv FROM toks)
              |SELECT doc_id, count(*) AS n_tokens,
              |count(*) FILTER (WHERE NOT inv) AS n_unk,
              |string_agg(outtok, ' ' ORDER BY pos) AS unk_text
              |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // --- UNK rewrite through the Misra-Gries sketch — the open-vocab
    //     100 TB path unkRewrite's scaladoc promises, on a PLANTED
    //     Zipf-shaped corpus (the d_semantic_recall_geo device: the
    //     testdata's 31-token distribution is uniform, so NO term
    //     exceeds the N/capacity retention bound at any capacity < 31
    //     and the MG contract is vacuous there). 2048 docs × 5 tokens:
    //     three head slots cycling 32 head terms (exactly 192
    //     occurrences each) + two doc-unique tail tokens (count 1, 4096
    //     distinct) → vocabulary 4128 ≫ capacity 128, so the sketch
    //     decrements constantly, yet N/128 = 80 < 192 GUARANTEES every
    //     head survives with est ≥ 112 > any tail's est ≤ 1 — the MG
    //     theorem makes the sketch's top-32 provably equal the exact
    //     top-32, so the full rewrite is hash-oracled end to end: the
    //     oracle replays the exact vocab cut, the engine routes through
    //     the sketch, and they must agree byte for byte. ---
    ("t_unk_mg_rewrite", (s, _) => {
      val planted = s.range(2048).select(col("id"),
        concat(lit("h"), (col("id") % 32).cast("string"),
          lit(" h"), ((col("id") + 1) % 32).cast("string"),
          lit(" h"), ((col("id") + 2) % 32).cast("string"),
          lit(" t"), col("id").cast("string"),
          lit(" u"), col("id").cast("string")).as("text"))
      TextAnalysis.unkRewriteMG(planted, "id", "text",
        vocabSize = 32, capacity = 128)
        .orderBy(col("id"))
    },
      Some("""WITH docs AS (SELECT r.range AS id,
             |  'h' || (r.range % 32) || ' h' || ((r.range + 1) % 32) ||
             |  ' h' || ((r.range + 2) % 32) || ' t' || r.range ||
             |  ' u' || r.range AS text FROM range(2048) r),
             |t AS (SELECT id, string_split(text, ' ') AS ts FROM docs),
             |toks AS (SELECT id, u.x.p AS pos, u.x.tok AS tok FROM t,
             |  unnest(list_transform(range(1, len(ts) + 1),
             |    i -> struct_pack(p := i - 1, tok := ts[i]))) AS u(x)),
             |v AS (SELECT tok FROM (SELECT tok, count(*) AS c FROM toks
             |  GROUP BY 1 ORDER BY c DESC, tok LIMIT 32)),
             |m AS (SELECT id, pos,
             |  CASE WHEN tok IN (SELECT tok FROM v) THEN tok
             |       ELSE '<unk>' END AS outtok,
             |  tok IN (SELECT tok FROM v) AS inv FROM toks)
             |SELECT id, count(*) AS n_tokens,
             |count(*) FILTER (WHERE NOT inv) AS n_unk,
             |string_agg(outtok, ' ' ORDER BY pos) AS unk_text
             |FROM m GROUP BY id ORDER BY id""".stripMargin)),

    // --- Vocab heavy hitters through the MG sketch — the 100 TB path for
    //     t_vocab_topk: ONE pass, O(k) state, no term-count shuffle at
    //     all; recall vs the exact top-50 and the worst count
    //     underestimate measured in-query (x7's self-check shape — MG
    //     summary content is processing-order-dependent in the approx
    //     regime, so no row oracle; the n/k contract is the assertion,
    //     HeavyHittersSpec). ---
    ("t_vocab_mg_recall", (s, d) => {
      val toks = SparkEntry.T(s, d, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
      val mg = toks
        .agg(graft.functions.expr.HeavyHittersAgg
          .heavyHitters(col("term"), 1024).as("hh"),
          count(lit(1)).as("n"))
        .select(col("n"), explode(col("hh")).as("e"))
        .select(col("n"), col("e.item").as("term"), col("e.est").as("est"))
      val exact50 = toks.groupBy(col("term"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term")).limit(50)
      exact50.join(mg, Seq("term"), "left")
        .agg(
          count(lit(1)).as("top50"),
          count(col("est")).as("found"),
          round(count(col("est")).cast("double") / count(lit(1)), 4)
            .as("recall"),
          max(col("cnt") - col("est")).as("worst_underestimate"),
          max(col("n") / 1024L).as("bound"))
    }, None),

    // --- Hashing-trick vectorizer summary (murmur3-seeded → no DuckDB
    //     oracle; invariants in RelationalSpec): sparse triple counts and
    //     mass over the documents corpus at dim=1024. ---
    ("x10_feature_hash", (s, d) => {
      val sparse = Relational.hashedFeatures(
        SparkEntry.T(s, d, "documents"), "doc_id", "text", 1024)
      sparse.agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_triples"),
        countDistinct(col("slot")).as("n_slots_used"),
        round(sum(abs(col("value"))), 1).as("total_mass"))
    }, None),

    // --- Zipf slope: least-squares slope of ln(freq) on ln(rank) over
    //     the term-frequency table (natural corpora ≈ −1; strong
    //     deviation flags synthetic/templated text). regr_slope is a
    //     single distributive aggregate — one pass over the vocab. ---
    ("t_zipf_slope", (s, d) => {
      val counts = SparkEntry.T(s, d, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
      graft.ops.Relational.globalRowNumber(
          counts, Seq(col("cnt").desc, col("term")), rnCol = "r")
        .agg(round(regr_slope(log(col("cnt")), log(col("r"))), 6)
            .as("zipf_slope"),
          count(lit(1)).as("n_terms"))
    },
      Some(s"""WITH toks AS (SELECT unnest($DuckTokens) AS term FROM documents),
              |c AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
              |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term) AS r FROM c)
              |SELECT round(regr_slope(ln(cnt), ln(r)), 6) AS zipf_slope,
              |count(*) AS n_terms FROM r""".stripMargin)),

    // --- Vocabulary summary: size, hapax count, type-token ratio — the
    //     Heaps'-law numbers a corpus report leads with. One exploded
    //     pass, map-side partial aggs. ---
    ("t_vocab_stats", (s, d) =>
      SparkEntry.T(s, d, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("__c"))
        .agg(count(lit(1)).as("vocab_size"),
          sum(when(col("__c") === 1, 1L).otherwise(0L)).as("hapax_count"),
          sum(col("__c")).as("total_tokens"))
        .select(col("vocab_size"), col("hapax_count"), col("total_tokens"),
          round(col("vocab_size").cast("double") / col("total_tokens"), 6)
            .as("type_token_ratio")),
      Some(s"""WITH toks AS (SELECT unnest($DuckTokens) AS term FROM documents),
              |c AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term)
              |SELECT count(*) AS vocab_size,
              |count(*) FILTER (cnt = 1) AS hapax_count,
              |CAST(sum(cnt) AS BIGINT) AS total_tokens,
              |round(count(*)::DOUBLE / sum(cnt), 6) AS type_token_ratio
              |FROM c""".stripMargin)),

    // --- Quality filter (CCNet-style tail cut): drop the bottom decile by
    //     unigram LM score. Rank-based, not threshold-based — ordering on
    //     the ROUND-6 score + doc_id is bit-identical across engines,
    //     where a percentile threshold compare could flip docs within FP
    //     noise of the cut. The global rank window is the sf-scale form;
    //     at 100 TB swap in an approx_percentile threshold (documented
    //     trade: boundary docs within sketch error of the cut). ---
    ("t_quality_filter", (s, d) => {
      // qrank via the parallel global ranking — this frame is DOC-sized,
      // the one place in the text tranche a single-partition window would
      // genuinely serialize the corpus.
      val scored = TextAnalysis.unigramLogProb(
        SparkEntry.T(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("avg_logprob"))
      graft.ops.Relational.globalRowNumber(
          scored, Seq(col("avg_logprob"), col("doc_id")), rnCol = "qrank")
        .crossJoin(broadcast(scored.agg(count(lit(1)).as("__n"))))
        .filter(col("qrank") > floor(col("__n") / 10))
        .select(col("doc_id"), col("avg_logprob"), col("qrank"))
        .orderBy(col("doc_id"))
    },
      Some(s"""WITH toks AS (SELECT doc_id, unnest($DuckTokens) AS term FROM documents),
              |tc AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
              |tot AS (SELECT count(*) AS n_total FROM toks),
              |sc AS (SELECT doc_id,
              |  round(avg(ln(tc.c::DOUBLE / n_total)), 6) AS avg_logprob
              |  FROM toks JOIN tc USING(term) CROSS JOIN tot GROUP BY doc_id),
              |r AS (SELECT doc_id, avg_logprob,
              |  row_number() OVER (ORDER BY avg_logprob, doc_id) AS qrank,
              |  count(*) OVER () AS n FROM sc)
              |SELECT doc_id, avg_logprob, qrank FROM r
              |WHERE qrank > n // 10 ORDER BY doc_id""".stripMargin)),

    // --- PII-style redaction (C4/RefinedWeb cleaning): URL → email →
    //     digit-run placeholders in fixed order; output is the redacted
    //     text's md5 + length — full-content witness, O(1) row width. ---
    ("t_redact", (s, d) =>
      TextAnalysis.redact(SparkEntry.T(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      Some("""WITH r AS (SELECT doc_id,
             |  regexp_replace(regexp_replace(regexp_replace(text,
             |    'https?://[^ ]+', '<URL>', 'g'),
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
             |    '[0-9]+', '<NUM>', 'g') AS rt FROM documents)
             |SELECT doc_id, md5(rt) AS redacted_md5,
             |length(rt)::BIGINT AS redacted_len
             |FROM r ORDER BY doc_id""".stripMargin)),

    // --- Deterministic train/val/test split by content hash: lexicographic
    //     compare of md5's first 8 hex chars against cumulative-fraction
    //     thresholds — reproducible bit-for-bit on any engine with md5,
    //     stable under corpus growth (unlike randomSplit). ---
    ("x8_hash_split", (s, d) =>
      Relational.hashSplit(SparkEntry.T(s, d, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id,
              |CASE WHEN substr(md5(doc_id::VARCHAR), 1, 8) < '${hx(0.8)}' THEN 'train'
              |     WHEN substr(md5(doc_id::VARCHAR), 1, 8) < '${hx(0.8 + 0.1)}' THEN 'val'
              |     ELSE 'test' END AS split
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // --- Concat-and-chunk sequence packing: docs concatenated by doc_id
    //     within each lang, sliced into 512-token training sequences; one
    //     manifest row per (lang, bin). Shard-local at scale: add a hash
    //     shard to groupCols and the window parallelizes embarrassingly. ---
    ("x9_pack_sequences", (s, d) =>
      TextAnalysis.packSequences(SparkEntry.T(s, d, "documents"), "doc_id",
        "text", 512, groupCols = Seq("lang"))
        .orderBy(col("lang"), col("bin")),
      Some(s"""WITH t AS (SELECT doc_id, lang, len($DuckTokens)::BIGINT AS nt
              |  FROM documents),
              |o AS (SELECT doc_id, lang, nt,
              |  CAST(coalesce(sum(nt) OVER (PARTITION BY lang ORDER BY doc_id
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st
              |  FROM t)
              |SELECT lang, st // 512 AS bin, count(*) AS n_docs,
              |CAST(sum(nt) AS BIGINT) AS total_tokens,
              |min(doc_id) AS first_doc, max(doc_id) AS last_doc
              |FROM o GROUP BY 1, 2 ORDER BY lang, bin""".stripMargin)),

    // --- ID-LEVEL sequence packing (VERDICT r14 top-next, the second half
    //     of the token-ID handoff): the t_token_ids id arrays concatenated
    //     by doc_id within each lang and sliced into exactly-64-id training
    //     sequences — input_ids padded with 0, loss_mask 1/0, doc_starts =
    //     attention-reset offsets. End-to-end oracle: DuckDB replays
    //     learn → encode → id-assign → prefix-sum → slice → pad and the
    //     rendered tensors must agree value-for-value. ---
    ("x9b_pack_ids", (s, d) => {
      val docs = SparkEntry.T(s, d, "documents")
      val ids = TextAnalysis.bpeLearnEncodeIds(docs, "doc_id", "text",
          iterations = 3, vocabSize = 20)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      TextAnalysis.packSequenceIds(ids, "doc_id", "token_ids",
          seqLen = 64, padId = 0, groupCols = Seq("lang"))
        .select(col("lang"), col("seq_idx"), col("n_real"),
          col("n_doc_starts"),
          array_join(transform(col("input_ids"), i => i.cast("string")), " ")
            .as("ids_str"),
          array_join(transform(col("loss_mask"), i => i.cast("string")), " ")
            .as("mask_str"),
          array_join(transform(col("doc_starts"), i => i.cast("string")), " ")
            .as("starts_str"))
        .orderBy(col("lang"), col("seq_idx"))
    },
      Some(s"""$BpeEncodePrefix,
              |u AS (SELECT unnest(ts) AS tok FROM tok),
              |v AS (SELECT tok, row_number() OVER
              |    (ORDER BY count(*) DESC, tok) AS tid
              |  FROM u GROUP BY tok ORDER BY count(*) DESC, tok LIMIT 20),
              |e AS (SELECT doc_id, x.s.p AS pos, x.s.tok AS tok FROM tok,
              |  unnest(list_transform(range(1, len(ts) + 1),
              |    i -> struct_pack(p := i - 1, tok := ts[i]))) AS x(s)),
              |m AS (SELECT doc_id, pos, coalesce(v.tid, 0) AS tid
              |      FROM e LEFT JOIN v USING (tok)),
              |dt AS (SELECT doc_id, count(*) AS nt FROM m GROUP BY doc_id),
              |st AS (SELECT dt.doc_id, docs.lang,
              |  CAST(coalesce(sum(nt) OVER (PARTITION BY docs.lang
              |    ORDER BY dt.doc_id
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              |    AS BIGINT) AS strt
              |  FROM dt JOIN documents docs USING (doc_id)),
              |g AS (SELECT st.lang, st.strt + m.pos AS gpos, m.tid,
              |             m.pos = 0 AS isstart
              |      FROM m JOIN st USING (doc_id)),
              |sq AS (SELECT lang, gpos // 64 AS seq_idx,
              |              (gpos % 64)::INT AS sp, tid, isstart FROM g),
              |agg AS (SELECT lang, seq_idx,
              |  count(*) AS n_real,
              |  CAST(sum(CASE WHEN isstart THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_doc_starts,
              |  string_agg(tid::VARCHAR, ' ' ORDER BY sp) AS real_str,
              |  string_agg(CASE WHEN isstart THEN sp::VARCHAR END,
              |    ' ' ORDER BY sp) AS starts_str
              |  FROM sq GROUP BY lang, seq_idx)
              |SELECT lang, seq_idx, n_real, n_doc_starts,
              |  real_str || repeat(' 0', (64 - n_real)::INT) AS ids_str,
              |  trim(repeat('1 ', n_real::INT) ||
              |       repeat('0 ', (64 - n_real)::INT)) AS mask_str,
              |  coalesce(starts_str, '') AS starts_str
              |FROM agg ORDER BY lang, seq_idx""".stripMargin)),

    // --- The SHARDED 100 TB form of id packing, itself oracle-gated (the
    //     salted-form pattern): packSequenceIds' prefix-sum window
    //     parallelism equals the group count, so the scale path adds a
    //     hash-shard column to groupCols — packing is shard-local by
    //     construction (sequences never cross shards). Shard = doc_id % 4
    //     here so DuckDB replays it exactly; at 100 TB the shard count is
    //     sized to the cluster, not 4. ---
    ("x9c_pack_ids_sharded", (s, d) => {
      val docs = SparkEntry.T(s, d, "documents")
      val ids = TextAnalysis.bpeLearnEncodeIds(docs, "doc_id", "text",
          iterations = 3, vocabSize = 20)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .withColumn("shard", pmod(col("doc_id"), lit(4)).cast("int"))
      TextAnalysis.packSequenceIds(ids, "doc_id", "token_ids",
          seqLen = 64, padId = 0, groupCols = Seq("lang", "shard"))
        .select(col("lang"), col("shard"), col("seq_idx"), col("n_real"),
          array_join(transform(col("input_ids"), i => i.cast("string")), " ")
            .as("ids_str"))
        .orderBy(col("lang"), col("shard"), col("seq_idx"))
    },
      Some(s"""$BpeEncodePrefix,
              |u AS (SELECT unnest(ts) AS tok FROM tok),
              |v AS (SELECT tok, row_number() OVER
              |    (ORDER BY count(*) DESC, tok) AS tid
              |  FROM u GROUP BY tok ORDER BY count(*) DESC, tok LIMIT 20),
              |e AS (SELECT doc_id, x.s.p AS pos, x.s.tok AS tok FROM tok,
              |  unnest(list_transform(range(1, len(ts) + 1),
              |    i -> struct_pack(p := i - 1, tok := ts[i]))) AS x(s)),
              |m AS (SELECT doc_id, pos, coalesce(v.tid, 0) AS tid
              |      FROM e LEFT JOIN v USING (tok)),
              |dt AS (SELECT doc_id, count(*) AS nt FROM m GROUP BY doc_id),
              |st AS (SELECT dt.doc_id, docs.lang,
              |  (docs.doc_id % 4)::INT AS shard,
              |  CAST(coalesce(sum(nt) OVER (
              |    PARTITION BY docs.lang, docs.doc_id % 4
              |    ORDER BY dt.doc_id
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              |    AS BIGINT) AS strt
              |  FROM dt JOIN documents docs USING (doc_id)),
              |g AS (SELECT st.lang, st.shard, st.strt + m.pos AS gpos, m.tid
              |      FROM m JOIN st USING (doc_id)),
              |sq AS (SELECT lang, shard, gpos // 64 AS seq_idx,
              |              (gpos % 64)::INT AS sp, tid FROM g),
              |agg AS (SELECT lang, shard, seq_idx,
              |  count(*) AS n_real,
              |  string_agg(tid::VARCHAR, ' ' ORDER BY sp) AS real_str
              |  FROM sq GROUP BY lang, shard, seq_idx)
              |SELECT lang, shard, seq_idx, n_real,
              |  real_str || repeat(' 0', (64 - n_real)::INT) AS ids_str
              |FROM agg ORDER BY lang, shard, seq_idx""".stripMargin)),

    // --- Deterministic GLOBAL SEQUENCE SHUFFLE (VERDICT r15 next #7, the
    //     last trainer-handoff nicety): packed sequences must be globally
    //     shuffled before training — adjacent sequences from one document
    //     would otherwise land in one batch. RNG shuffles are partition-
    //     order-dependent; this is the md5-order device (x13/x15): rank by
    //     md5(lang||'-'||seq_idx) via the PARALLEL globalRowNumber, emit a
    //     stable dense `shuffle_pos`. Oracle replays x9b's whole pack
    //     chain, then the same md5 rank — (shuffle_pos, input_ids) hash
    //     end to end. ---
    ("x9d_shuffle_packed", (s, d) => {
      val docs = SparkEntry.T(s, d, "documents")
      val ids = TextAnalysis.bpeLearnEncodeIds(docs, "doc_id", "text",
          iterations = 3, vocabSize = 20)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      val packed = TextAnalysis.packSequenceIds(ids, "doc_id", "token_ids",
        seqLen = 64, padId = 0, groupCols = Seq("lang"))
      Relational.deterministicShuffle(packed,
          concat(col("lang"), lit("-"), col("seq_idx").cast("string")))
        .select(col("shuffle_pos"), col("lang"), col("seq_idx"),
          array_join(transform(col("input_ids"), i => i.cast("string")), " ")
            .as("ids_str"))
        .orderBy(col("shuffle_pos"))
    },
      Some(s"""$BpeEncodePrefix,
              |u AS (SELECT unnest(ts) AS tok FROM tok),
              |v AS (SELECT tok, row_number() OVER
              |    (ORDER BY count(*) DESC, tok) AS tid
              |  FROM u GROUP BY tok ORDER BY count(*) DESC, tok LIMIT 20),
              |e AS (SELECT doc_id, x.s.p AS pos, x.s.tok AS tok FROM tok,
              |  unnest(list_transform(range(1, len(ts) + 1),
              |    i -> struct_pack(p := i - 1, tok := ts[i]))) AS x(s)),
              |m AS (SELECT doc_id, pos, coalesce(v.tid, 0) AS tid
              |      FROM e LEFT JOIN v USING (tok)),
              |dt AS (SELECT doc_id, count(*) AS nt FROM m GROUP BY doc_id),
              |st AS (SELECT dt.doc_id, docs.lang,
              |  CAST(coalesce(sum(nt) OVER (PARTITION BY docs.lang
              |    ORDER BY dt.doc_id
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              |    AS BIGINT) AS strt
              |  FROM dt JOIN documents docs USING (doc_id)),
              |g AS (SELECT st.lang, st.strt + m.pos AS gpos, m.tid
              |      FROM m JOIN st USING (doc_id)),
              |sq AS (SELECT lang, gpos // 64 AS seq_idx,
              |              (gpos % 64)::INT AS sp, tid FROM g),
              |agg AS (SELECT lang, seq_idx,
              |  count(*) AS n_real,
              |  string_agg(tid::VARCHAR, ' ' ORDER BY sp) AS real_str
              |  FROM sq GROUP BY lang, seq_idx),
              |pk AS (SELECT lang, seq_idx,
              |  real_str || repeat(' 0', (64 - n_real)::INT) AS ids_str
              |  FROM agg)
              |SELECT row_number() OVER (ORDER BY
              |    md5(lang || '-' || seq_idx::VARCHAR),
              |    lang || '-' || seq_idx::VARCHAR) AS shuffle_pos,
              |  lang, seq_idx, ids_str
              |FROM pk ORDER BY shuffle_pos""".stripMargin)),

    // --- NO-SPLIT packing (the SFT-style handoff packSequenceIds cannot
    //     express: whole documents per bin, Krell et al. 2021 histogram
    //     BFD solved driver-side on the (lang, len) histogram, realized
    //     by md5 rank + a broadcast slot table — packDocsNoSplit).
    //     ORACLE-GATED since r17 via the DYNAMIC channel ([[x9eOracleSql]]
    //     in SparkEntry.oracleSqlDynamic): the solved slot table ships
    //     into DuckDB as a VALUES literal and the oracle independently
    //     replays learn → encode → chunk → md5 rank → slot join → per-bin
    //     assembly, hashing the full tensors — only the BFD solve itself
    //     stays spec-gated (DedupTextSpec differential-vs-per-doc-BFD +
    //     exact-once/capacity/determinism invariants). Fill stats emitted
    //     per bin (pad waste is THE no-split efficiency number). ---
    ("x9e_pack_nosplit", (s, d) => {
      val ids = x9eUnits(s, d)
      TextAnalysis.packDocsNoSplit(ids, "unit_id", "chunk_ids",
          seqLen = 64, padId = 0, groupCols = Seq("lang"))
        .select(col("lang"), col("bin_id"), col("n_real"), col("n_docs"),
          expr("(64 - n_real) * 1000000 div 64").as("pad_ppm"),
          array_join(transform(col("input_ids"), i => i.cast("string")), " ")
            .as("ids_str"),
          array_join(transform(col("doc_starts"), i => i.cast("string")), " ")
            .as("starts_str"),
          array_join(col("doc_ids"), " ").as("units_str"))
        .orderBy(col("lang"), col("bin_id"))
    }, None),

    // --- C8 FLAGSHIP: the corpus→trainer handoff END TO END in one
    //     Catalyst plan (the c2/c6/c7 composition pattern, for the
    //     tokenizer/ids tranche), chaining the round's new operators:
    //     span-granular dedup (dedupSpans rewrites 24 docs / removes
    //     1254 tokens at sf0.01 — exact whole-doc dedup is VACUOUS on
    //     this table, 500/500 distinct) → quality length cut on the
    //     CLEANED text (≥ 8 tokens; 14 docs empty fully + shrunk ones
    //     drop — the cut bites) → learn 3 BPE merges on the SURVIVING
    //     corpus → encode to dense ids (top-20 vocab, OOV → 0) → pack
    //     into 64-id training sequences per lang → one funnel-stats row
    //     per lang (docs kept, sequences, real/pad tokens, pad ppm, unk
    //     ids). pad_ppm is INTEGER arithmetic (x·10⁶ div) — a float
    //     fraction rounded at 6 decimals can straddle the .5 boundary
    //     differently across engines (verify-skill gotcha). The oracle
    //     replays the full chain over the same cleaned-corpus CTE. ---
    ("c8_trainer_pipeline", (s, d) => {
      val docs = SparkEntry.T(s, d, "documents")
      // localCheckpoint barrier at the fan-out (the c2/c7 composition
      // device): `cleaned` feeds the 3 learn steps + the vocab pass + the
      // encode pass — five actions that would each re-derive the
      // span-dedup chain without it (measured: 14.9 → 5.8 s at sf0.1,
      // 33.0 → 13.3 s at sf1, 127.5 → 46.4 s at sf10). The frame is
      // corpus-sized text, the same class c2 barriers.
      val cleaned = TextAnalysis.dedupSpans(docs, "doc_id", "text", n = 8)
        .select(col("doc_id"), col("clean_text").as("text"))
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .filter(TextAnalysis.tokenCount(col("text")) >= 8)
        .select(col("doc_id"), col("lang"), col("text"))
        .localCheckpoint()
      val ids = TextAnalysis.bpeLearnEncodeIds(cleaned, "doc_id", "text",
          iterations = 3, vocabSize = 20)
        .join(cleaned.select(col("doc_id"), col("lang")), Seq("doc_id"))
      val packed = TextAnalysis.packSequenceIds(ids, "doc_id", "token_ids",
        seqLen = 64, padId = 0, groupCols = Seq("lang"))
      val docStats = ids.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs_kept"),
          sum(col("n_unk")).as("n_unk_ids"))
      packed.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sequences"),
          sum(col("n_real")).as("n_tokens_real"),
          sum(lit(64L) - col("n_real")).as("n_pad"))
        .join(docStats, Seq("lang"))
        .select(col("lang"), col("n_docs_kept"), col("n_sequences"),
          col("n_tokens_real"), col("n_pad"),
          expr("n_pad * 1000000 div (n_sequences * 64)").as("pad_ppm"),
          col("n_unk_ids"))
        .orderBy(col("lang"))
    },
      Some(s"""${bpeEncodePrefixFrom("cleaned",
                s"""t0 AS (SELECT doc_id, lang, $DuckTokens AS ts
                   |  FROM documents),
                   |sp0 AS (SELECT doc_id, i - 1 AS si,
                   |  md5(array_to_string(ts[i:i+7], ' ')) AS h
                   |  FROM t0, unnest(range(1, len(ts) - 6)) AS r(i)
                   |  WHERE len(ts) >= 8),
                   |k0 AS (SELECT doc_id, si, row_number() OVER
                   |  (PARTITION BY h ORDER BY doc_id, si) = 1 AS first
                   |  FROM sp0),
                   |rm0 AS (SELECT DISTINCT doc_id, si + j AS p
                   |  FROM k0, unnest(range(0, 8)) AS u(j) WHERE NOT first),
                   |tk0 AS (SELECT doc_id, x.s.p AS p, x.s.tok AS tk FROM t0,
                   |  unnest(list_transform(range(1, len(ts) + 1),
                   |    i -> struct_pack(p := i - 1, tok := ts[i]))) AS x(s)),
                   |cl0 AS (SELECT tk0.doc_id,
                   |  coalesce(string_agg(tk0.tk, ' ' ORDER BY tk0.p)
                   |    FILTER (WHERE rm0.p IS NULL), '') AS ctext
                   |  FROM tk0 LEFT JOIN rm0
                   |    ON tk0.doc_id = rm0.doc_id AND tk0.p = rm0.p
                   |  GROUP BY tk0.doc_id),
                   |cleaned AS (SELECT c.doc_id, dd.lang, c.ctext AS text
                   |  FROM cl0 c JOIN documents dd USING (doc_id)
                   |  WHERE len(string_split(trim(regexp_replace(lower(c.ctext),
                   |    '\\s+', ' ', 'g')), ' ')) >= 8),
                   |""".stripMargin)},
              |u AS (SELECT unnest(ts) AS tok FROM tok),
              |v AS (SELECT tok, row_number() OVER
              |    (ORDER BY count(*) DESC, tok) AS tid
              |  FROM u GROUP BY tok ORDER BY count(*) DESC, tok LIMIT 20),
              |e AS (SELECT doc_id, x.s.p AS pos, x.s.tok AS tok FROM tok,
              |  unnest(list_transform(range(1, len(ts) + 1),
              |    i -> struct_pack(p := i - 1, tok := ts[i]))) AS x(s)),
              |m AS (SELECT doc_id, pos, coalesce(v.tid, 0) AS tid
              |      FROM e LEFT JOIN v USING (tok)),
              |dt AS (SELECT doc_id, count(*) AS nt FROM m GROUP BY doc_id),
              |st AS (SELECT dt.doc_id, c.lang,
              |  CAST(coalesce(sum(nt) OVER (PARTITION BY c.lang
              |    ORDER BY dt.doc_id
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              |    AS BIGINT) AS strt
              |  FROM dt JOIN cleaned c USING (doc_id)),
              |g AS (SELECT st.lang, st.strt + m.pos AS gpos
              |      FROM m JOIN st USING (doc_id)),
              |sq AS (SELECT lang, gpos // 64 AS seq_idx FROM g),
              |agg AS (SELECT lang, seq_idx, count(*) AS n_real
              |        FROM sq GROUP BY 1, 2),
              |ds AS (SELECT c.lang, count(*) AS n_docs_kept
              |       FROM cleaned c GROUP BY 1),
              |du AS (SELECT c.lang,
              |  CAST(count(*) FILTER (WHERE m.tid = 0) AS BIGINT) AS n_unk_ids
              |  FROM m JOIN cleaned c USING (doc_id) GROUP BY 1),
              |ps AS (SELECT lang, count(*) AS n_sequences,
              |  CAST(sum(n_real) AS BIGINT) AS n_tokens_real,
              |  CAST(sum(64 - n_real) AS BIGINT) AS n_pad
              |  FROM agg GROUP BY 1)
              |SELECT ps.lang, ds.n_docs_kept, ps.n_sequences,
              |  ps.n_tokens_real, ps.n_pad,
              |  (ps.n_pad * 1000000) // (ps.n_sequences * 64) AS pad_ppm,
              |  du.n_unk_ids
              |FROM ps JOIN ds USING (lang) JOIN du USING (lang)
              |ORDER BY lang""".stripMargin)),

    // --- Language ID by marker profiles (argmax + alphabetical tiebreak) ---
    ("t_lang_id", (s, d) => {
      val df = SparkEntry.T(s, d, "documents")
      df.select(col("doc_id"), col("lang"),
        TextAnalysis.langIdByProfiles(col("text"), LangProfiles).as("pred"))
        .withColumn("correct", when(col("lang") === col("pred"), 1).otherwise(0))
        .orderBy(col("doc_id"))
    }, {
      val score = LangProfiles.map { case (lang, markers) =>
        val arr = markers.map(m => s"'$m'").mkString("[", ",", "]")
        s"len(list_intersect(td, $arr)) AS s_$lang"
      }.mkString(", ")
      val langs = LangProfiles.map(_._1) // alphabetical already
      val caseChain = langs.zipWithIndex.map { case (l, i) =>
        val rest = langs.drop(i + 1)
        if (rest.isEmpty) s"ELSE '$l' END"
        else s"WHEN ${rest.map(r => s"s_$l >= s_$r").mkString(" AND ")} THEN '$l'"
      }
      Some(s"""WITH t AS (SELECT doc_id, lang, list_distinct($DuckTokens) AS td FROM documents),
              |sc AS (SELECT doc_id, lang, $score FROM t)
              |SELECT doc_id, lang,
              |CASE ${caseChain.init.mkString(" ")} ${caseChain.last} AS pred,
              |CASE WHEN lang = (CASE ${caseChain.init.mkString(" ")} ${caseChain.last}) THEN 1 ELSE 0 END AS correct
              |FROM sc ORDER BY doc_id""".stripMargin)
    }),

    // --- Rolling-hash document fingerprint ---
    ("t_fingerprint", (s, d) =>
      SparkEntry.T(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"),
          length(col("text")).as("n_chars"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |list_reduce(
             |  list_concat([CAST(7 AS BIGINT)],
             |              list_transform(string_split(text, ''), x -> CAST(ascii(x) AS BIGINT))),
             |  (a, b) -> (a * 31 + b) % 2147483647) AS fp,
             |CAST(length(text) AS INTEGER) AS n_chars
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // --- ANN (IVF-style cluster pruning) with recall-vs-exact self-check ---
    ("ann_cluster_recall", (s, d) => {
      // Measures BOTH the hash-seeded centroids and the 2-round
      // Lloyd-refined ones (Similarity.refineCentroids) against the same
      // exact ground truth, so the refinement's recall gain at fixed
      // nlist/nprobe is a number in every round's output. VectorSpec pins
      // refined >= seeded on a planted-cluster corpus.
      val e = SparkEntry.T(s, d, "embeddings")
      val qs = e.filter(col("vec_id") < 50)
      val exact = Similarity.bruteForceTopK(qs, e, "vec_id", "vec_id",
        "embedding", 5, "cosine", excludeSelf = true)
        .select(col("query_id"), col("item_id"))
      def approx(refineIters: Int) = Similarity.clusterPrunedTopK(qs, e,
        "vec_id", "vec_id", "embedding", 5, nlist = 16, nprobe = 4,
        refineIters = refineIters, excludeSelf = true)
        .select(col("query_id"), col("item_id"),
          lit(refineIters).as("__refine"))
      RankingMetrics.recallVsExact(exact, approx(0).unionAll(approx(2)),
          Seq("query_id", "item_id"), Seq("__refine"))
        .agg(armHits(col("__refine") === 0).as("n_hits"),
          armHits(col("__refine") === 2).as("n_hits_refined"),
          max(col("n_exact")).as("n_exact"))
        .withColumn("recall", col("n_hits") / col("n_exact"))
        .withColumn("recall_refined", col("n_hits_refined") / col("n_exact"))
    }, None),

    // --- ANN via MLlib BucketedRandomProjectionLSH hash family, through
    //     the candidate-BOUNDED bucket join (Similarity.lshTopK): both
    //     the OR-amplified config (bandSize=1 — the r8 registry knobs,
    //     whose candidate volume densifies with neighbor density) and
    //     the bounded config (bandSize=2 AND-amplification + per-bucket
    //     cap — candidates ≤ bands·cap per query regardless of corpus)
    //     are measured against the same exact ground truth, so the
    //     bounded path's recall price is a number in every round. ---
    ("ann_mllib_lsh_recall", (s, d) => {
      val e = SparkEntry.T(s, d, "embeddings")
      val qs = e.filter(col("vec_id") < 50)
      val exact = Similarity.bruteForceTopK(qs, e, "vec_id", "vec_id",
        "embedding", 5, "cosine", excludeSelf = true)
        .select(col("query_id"), col("item_id"))
      def approx(bandSize: Int, cap: Int) = Similarity.lshTopK(qs, e,
        "vec_id", "vec_id", "embedding", 5, bandSize = bandSize,
        maxBucketSize = cap)
        .select(col("query_id"), col("item_id"), lit(bandSize).as("__band"))
      RankingMetrics.recallVsExact(exact,
          approx(1, Int.MaxValue).unionAll(approx(2, 1024)),
          Seq("query_id", "item_id"), Seq("__band"))
        .agg(armHits(col("__band") === 1).as("n_hits"),
          armHits(col("__band") === 2).as("n_hits_bounded"),
          max(col("n_exact")).as("n_exact"))
        .withColumn("recall", col("n_hits") / col("n_exact"))
        .withColumn("recall_bounded", col("n_hits_bounded") / col("n_exact"))
    }, None),

    // --- Embedding-cosine near-dup pairs (cluster-bucketed, never
    //     all-pairs). nlist scales WITH the corpus (target ~1000 vectors
    //     per cluster): a fixed nlist makes per-cluster size grow
    //     linearly and the within-cluster pair join quadratic (measured
    //     40× time at 10× vectors in the r8 sweep with nlist=16); a
    //     corpus-proportional nlist keeps pair work Θ(n·1000). Centroid
    //     ASSIGNMENT is Θ(n·nlist) = n²/1000 — negligible below ~1 M
    //     vectors; past that the scale path is a two-level (coarse →
    //     fine) assignment, documented at Similarity.embeddingNearDups. ---
    ("d_embedding_neardup", (s, d) => {
      val e = SparkEntry.T(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      // memoized footer count: repeat invocations don't re-pay a sizing scan
      val nlist = math.max(16L,
        SparkEntry.rowCount(s, d, "embeddings") / 1000L).toInt
      Similarity.embeddingNearDups(e, "vec_id", "embedding",
        threshold = 0.2, nlist = nlist)
        .agg(count(lit(1)).as("n_pairs"),
          round(avg(col("cosine")), 4).as("avg_cosine"))
    }, None),

    // --- Multimodal: opaque binary payload + typed metadata + chunking ---
    ("m_multimodal_meta", (s, d) => {
      val m = Multimodal.attachFakeMedia(SparkEntry.T(s, d, "documents"), "text")
      m.select(col("doc_id"),
        length(col("media")).as("media_bytes"),
        size(Multimodal.chunkMedia(col("media"), 256)).as("n_chunks"),
        col("media_meta.format").as("format"),
        col("media_meta.width").as("width"),
        col("media_meta.height").as("height"))
        .orderBy(col("doc_id"))
    },
      Some("""SELECT doc_id,
             |CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS media_bytes,
             |CAST(ceil(octet_length(CAST(text AS BLOB)) / 256.0) AS INTEGER) AS n_chunks,
             |'fake/raw' AS format,
             |CAST(octet_length(CAST(text AS BLOB)) % 640 + 1 AS INTEGER) AS width,
             |CAST(octet_length(CAST(text AS BLOB)) % 480 + 1 AS INTEGER) AS height
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // --- Multimodal frame-sampling manifest + resize plan (the two
    //     brief-named media stages chunkMedia/attachFakeMedia feed): every
    //     4th fixed-size chunk of the opaque payload becomes a frame row
    //     (idx, byte offset, size, content md5 — what a batched decoder
    //     consumes), carrying the doc's fit-within-224x224 resize dims
    //     from the metadata struct. Pure per-row expressions — the only
    //     shuffle is the ORDER BY; the codec itself stays the stubbed
    //     mapPartitions slot. ---
    ("m_frame_manifest", (s, d) => {
      val m = Multimodal.attachFakeMedia(SparkEntry.T(s, d, "documents"), "text")
      m.select(col("doc_id"),
          Multimodal.resizeDims(col("media_meta"), 224, 224).as("__rd"),
          posexplode(Multimodal.chunkMedia(col("media"), 64)))
        .filter(pmod(col("pos"), lit(4)) === 0)
        .select(col("doc_id"), col("pos").cast("long").as("frame_idx"),
          (col("pos") * 64L).as("byte_offset"),
          length(col("col")).cast("long").as("n_bytes"),
          md5(col("col")).as("frame_md5"),
          col("__rd.width").as("out_w"), col("__rd.height").as("out_h"))
        .orderBy(col("doc_id"), col("frame_idx"))
    },
      Some("""WITH f AS (SELECT doc_id, i AS frame_idx,
             |  substring(text, CAST(i * 64 + 1 AS INT), 64) AS fr,
             |  octet_length(CAST(text AS BLOB)) AS nb FROM documents,
             |  unnest(range(0, CAST(ceil(octet_length(CAST(text AS BLOB)) / 64.0)
             |    AS BIGINT))) AS u(i)
             |  WHERE i % 4 = 0),
             |r AS (SELECT doc_id, frame_idx, fr,
             |  least(least(224.0 / (nb % 640 + 1), 224.0 / (nb % 480 + 1)), 1.0)
             |    AS sc, nb FROM f)
             |SELECT doc_id, frame_idx, frame_idx * 64 AS byte_offset,
             |CAST(octet_length(CAST(fr AS BLOB)) AS BIGINT) AS n_bytes,
             |md5(fr) AS frame_md5,
             |CAST(floor((nb % 640 + 1) * sc) AS INTEGER) AS out_w,
             |CAST(floor((nb % 480 + 1) * sc) AS INTEGER) AS out_h
             |FROM r ORDER BY doc_id, frame_idx""".stripMargin)),

    // --- Multimodal near-dup (perceptual block-hash banding over the
    //     opaque binary column — closes the r16 "text has L2/L3 dedup,
    //     media stops at metadata" gap): a planted-recall harness run
    //     EVERY round, the DEDUP_RECALL.md pattern in-query. 25 docs get
    //     a near-copy with one byte OVERWRITTEN mid-payload — the
    //     length-preserving edit class (patched header, steganographic
    //     bit, corrupted byte) the block signature is robust to:
    //     measured planted hamming 0–3 vs the radius-4 gate, so banding
    //     (complete for signature-Hamming <= radius) must recover every
    //     pair and planted_recall measures the SIGNATURE's perceptual
    //     robustness. Length-CHANGING edits (insert/append) shift every
    //     segment boundary and scramble byte-aligned block means
    //     (measured hamming 12–35 for a 2-byte append) — that edit class
    //     needs content-aligned features (the decoded-frame pHash in the
    //     stubbed codec slot, or CDC chunking); MultimodalSpec pins BOTH
    //     behaviors so the limitation is a tested contract, not a
    //     surprise. No SQL oracle (native BlockHash64 expression). ---
    ("m_phash_neardup", (s, d) => {
      val media = Multimodal.attachFakeMedia(
          SparkEntry.T(s, d, "documents"), "text")
        .select(col("doc_id"), col("media"))
      // plant on payloads >= 200 bytes (the m_cdc convention): short
      // payloads have coarse segment means whose median shifts amplify
      // an edit's bit flips — the corpus-wide overwrite tail reaches
      // hamming 8 on <200-byte docs while the >=200 planted sets
      // measure <= 4 at every sf (sf0.001..sf1), inside the radius.
      // planted_recall stays a MEASUREMENT of the signature+radius
      // operating point, not an assert — a sub-1.0 round is information.
      val off = plantedOffset(media)
      val eligible = media.filter(length(col("media")) >= 200)
        .orderBy(col("doc_id")).limit(25).localCheckpoint(true)
      val planted = eligible
        .select((col("doc_id") + off).as("doc_id"),
          concat(
            col("media").substr(lit(1), length(col("media")) / 3),
            lit(Array[Byte](0)),
            col("media").substr(length(col("media")) / 3 + 2,
              length(col("media")))).as("media"))
      val corpus = media.unionByName(planted)
      // radius 4, UNCAPPED — the scale-honest operating point, measured
      // at sf10 (500 K docs): radius 8 over 64 bits leaves ~7-bit block
      // keys whose buckets deepen with the corpus (13× time for 10×
      // docs), and capping them (the d_simhash device) evicted planted
      // pairs (recall 0.48) while STILL passing 528 K mostly-structural
      // pairs — 64-bit mean-structure signatures of unrelated ASCII
      // docs collide at radius 8. Radius 4 = 5 blocks × ~12.8-bit keys:
      // shallow buckets at any measured scale, no cap, so banding is
      // pigeonhole-complete WITHIN radius 4 — the >=200-byte planted
      // sets measure hamming <= 4 at every sf, so planted_recall
      // measures the signature alone (sf10: 1.0 at
      // 12 s). Precision ceiling stated honestly: at 500 K docs even
      // radius 4 passes ~2.9 M signature pairs — 64 bits of byte-mean
      // structure collide across unrelated ASCII docs — so at corpus
      // scale this is the CANDIDATE stage; verify downstream (exact
      // compare, or m_cdc_neardup's chunk-Jaccard, the composition the
      // text side uses for its 64-bit family).
      val pairs = Multimodal.mediaNearDups(corpus, "doc_id", "media",
        maxHamming = 4)
      val want = eligible
        .select(col("doc_id").as("id1"),
          (col("doc_id") + off).as("id2"))
      // ONE pairs execution (r19, guide §2.4): recovered + totals in one
      // left join + aggregate — the old two-subtree form ran the banding
      // pipeline twice. `want` is unique on (id1, id2) by construction
      // (one planted copy per eligible doc), so the join fans nothing out.
      // The fold runs over the FOUND pairs, not through
      // RankingMetrics.recallVsExact, because the same pass also reports
      // every found pair (n_pairs, max hamming): the recall fold would
      // need the pair pipeline a second time for those.
      val nPlanted = eligible.agg(count(lit(1)).as("n_planted"))
      pairs.join(want.withColumn("__planted", lit(1)), Seq("id1", "id2"),
          "left")
        .agg(count(col("__planted")).as("n_recovered"),
          count(lit(1)).as("n_pairs"),
          max(col("hamming")).as("max_found_hamming"))
        .crossJoin(nPlanted).select(
          col("n_planted"), col("n_recovered"),
          round(col("n_recovered").cast("double") / col("n_planted"), 4)
            .as("planted_recall"),
          col("n_pairs"), col("max_found_hamming"))
    }, None),

    // --- Multimodal near-dup, INSERT-ROBUST form (the edit class
    //     m_phash_neardup's contract pins as out of the block-hash's
    //     reach): content-defined chunking (Gear/FastCDC boundaries,
    //     FNV-1a chunk hashes) + the MinHash-LSH banding machinery over
    //     the chunk-hash sets. The planted copies here get BOTH a
    //     1-byte mid-payload INSERT and a 2-byte APPEND — length-
    //     changing edits that scramble the byte-aligned block signature
    //     (measured hamming 12–35 there) but perturb only the touched
    //     CDC chunks, so Jaccard stays high and banding recovers every
    //     planted pair. planted_recall is the per-round number; no SQL
    //     oracle (native chunking kernel); MultimodalSpec pins
    //     interp/codegen parity, the append-prefix chunk invariant and
    //     the planted classes. ---
    ("m_cdc_neardup", (s, d) => {
      val media = Multimodal.attachFakeMedia(
          SparkEntry.T(s, d, "documents"), "text")
        .select(col("doc_id"), col("media"))
      // plant on payloads >= 200 bytes — CDC's Jaccard needs ~15+ chunks
      // of resolution (a 57-byte blob is 3 chunks; one touched chunk is
      // a third of the set — the tiny-blob regime belongs to exact dedup)
      val off = plantedOffset(media)
      val eligible = media.filter(length(col("media")) >= 200)
        .orderBy(col("doc_id")).limit(25).localCheckpoint(true)
      val planted = eligible
        .select((col("doc_id") + off).as("doc_id"),
          concat(
            col("media").substr(lit(1), length(col("media")) / 2),
            lit(Array[Byte](42)),
            col("media").substr(length(col("media")) / 2 + 1,
              length(col("media"))),
            lit(Array[Byte](7, 7))).as("media"))
      val corpus = media.unionByName(planted)
      // bands=32 (rows-per-band 2): at threshold 0.5 the 16x4 default
      // misses J~0.5 pairs with P~(1-J^4)^16 ~ 0.35; 32x2 drops that to
      // ~1e-4 at the cost of coarser bucket keys. maxBucketSize=256
      // bounds the hot buckets those coarse keys create on corpora with
      // shared chunks (uncapped measured 15× time for 10× docs at sf10 —
      // the d_simhash/d_minhash lesson); the recall cost shows up in
      // THIS row's planted_recall every round.
      val pairs = Multimodal.mediaNearDupsCdc(corpus, "doc_id", "media",
        avgBits = 4, bands = 32, threshold = 0.5, maxBucketSize = 256)
      val want = eligible
        .select(col("doc_id").as("id1"),
          (col("doc_id") + off).as("id2"))
      // ONE pairs execution (r19, guide §2.4) — the m_phash fold: the CDC
      // banding + verify pipeline ran twice under the old two-subtree form,
      // and found-pair totals keep it off the recall fold there too.
      val nPlanted = eligible.agg(count(lit(1)).as("n_planted"))
      pairs.join(want.withColumn("__planted", lit(1)), Seq("id1", "id2"),
          "left")
        .agg(count(col("__planted")).as("n_recovered"),
          count(lit(1)).as("n_pairs"),
          round(min(col("jaccard")), 4).as("min_jaccard"))
        .crossJoin(nPlanted).select(
          col("n_planted"), col("n_recovered"),
          round(col("n_recovered").cast("double") / col("n_planted"), 4)
            .as("planted_recall"),
          col("n_pairs"), col("min_jaccard"))
    }, None),

    // --- Multimodal dedup END-TO-END RESOLUTION (r17 verdict #2 — the
    //     composition the text side ships as x16_dedup_resolve, over the
    //     opaque binary column): TWO-LANE candidates — perceptual
    //     block-hash banding (m_phash's radius-4 lane) UNIONED with the
    //     CDC MinHash lane (m_cdc's operating point; VERDICT r18 #2: the
    //     sf1/sf10 candidate-stage loss was a len/2 overwrite flipping 5
    //     signature bits, past radius 4 — exactly the edit class the
    //     content-defined lane is measured robust to) → shared
    //     content-level chunk-Jaccard VERIFY (structural 64-bit
    //     collisions between unrelated docs are re-checked against
    //     content) → connected components → min-id keeper → kept corpus.
    //     25 eligible docs are planted as 3-member groups (orig + TWO
    //     distinct 1-byte-overwrite copies) so the CC stage's TRANSITIVE
    //     collapse is exercised: copyA and copyB need not be a direct
    //     candidate pair, the group must resolve through orig. Reported
    //     per round: full-pipeline group recall (all 3 members in ONE
    //     component — robust to an orig legitimately merging into a
    //     lower-id REAL dup group), per-lane trio connectivity, verify
    //     survival, and PER-STAGE loss attribution (VERDICT r18 #4:
    //     groups lost at the candidate stage vs at verify, computed from
    //     the planted trio frame so the DEDUP_RECALL bisection is
    //     automatic — a 3-node trio is connected iff ≥2 of its 3
    //     within-trio pairs survive the stage; attribution is
    //     within-trio, while n_groups_resolved stays the global-CC
    //     number, so an external-path rescue can make resolved exceed
    //     trio-connected). No SQL oracle (native
    //     BlockHash64/GearChunkHashes kernels). ---
    ("m_dedup_resolve", (s, d) => {
      val media = Multimodal.attachFakeMedia(
          SparkEntry.T(s, d, "documents"), "text")
        .select(col("doc_id"), col("media"))
      val off = plantedOffset(media)
      val eligible = media.filter(length(col("media")) >= 200)
        .orderBy(col("doc_id")).limit(25).localCheckpoint(true)
      // two length-preserving 1-byte overwrites at different positions —
      // the edit class the block signature is measured robust to
      // (hamming <= 4 on >=200-byte docs, the m_phash contract)
      def overwriteAt(den: Int) = concat(
        col("media").substr(lit(1), length(col("media")) / den),
        lit(Array[Byte](0)),
        col("media").substr(length(col("media")) / den + 2,
          length(col("media"))))
      val copyA = eligible.select((col("doc_id") + off).as("doc_id"),
        overwriteAt(3).as("media"))
      val copyB = eligible.select((col("doc_id") + 2 * off).as("doc_id"),
        overwriteAt(2).as("media"))
      val corpus = media.unionByName(copyA).unionByName(copyB)
        .localCheckpoint(true)
      // Lane 1: byte-aligned block signature, radius-4 banding.
      val candBlock = Multimodal.mediaNearDups(corpus, "doc_id", "media",
        maxHamming = 4).select(col("id1"), col("id2"))
      // Lane 2: content-defined chunk MinHash at the m_cdc operating
      // point — catches edits whose signature distance exceeds radius 4
      // (the r18 sf1/sf10 candidate-stage loss class). The chunk sets
      // are computed ONCE (the one-tokenization principle): the CDC
      // lane and the shared verify both consume this checkpointed
      // frame, so the GearChunkHashes kernel runs a single corpus pass.
      val sets = Multimodal.cdcSetsFrame(corpus, "doc_id", "media",
        avgBits = 4).localCheckpoint(true)
      val candCdc = Multimodal.mediaNearDupsCdcFromSets(sets, "doc_id",
        bands = 32, threshold = 0.5, maxBucketSize = 256)
        .select(col("id1"), col("id2"))
      // ONE materialization carries the deduped union AND per-lane
      // membership: tagging before the groupBy means each lane pipeline
      // runs exactly once even though three consumers (the shared
      // verify, the union counts, the per-lane attribution) read it —
      // separate lane checkpoints measured as pure fixed-cost overhead
      // at small sf, and unmaterialized lanes would re-run their whole
      // banding pipeline per consumer.
      val candLanes = candBlock.withColumn("__lane", lit(0))
        .unionByName(candCdc.withColumn("__lane", lit(1)))
        .groupBy(col("id1"), col("id2"))
        .agg(max(when(col("__lane") === 0, 1).otherwise(0))
            .as("__in_block"),
          max(when(col("__lane") === 1, 1).otherwise(0)).as("__in_cdc"))
        .localCheckpoint(true)
      val cand = candLanes.select(col("id1"), col("id2"))
      // verify at the m_cdc operating point (threshold 0.5, 16-byte
      // expected chunks): a 1-2-chunk edit on a 12+-chunk doc keeps
      // Jaccard well above 0.5; unrelated block-hash collisions fall
      // below it unless they genuinely share content
      val verified = Multimodal.verifyPairsFromSets(sets, "doc_id", cand,
        threshold = 0.5)
        .localCheckpoint(true)
      val cc = Dedup.connectedComponents(
        verified.select(col("id1"), col("id2")), "id1", "id2")
      val trio = eligible.select(col("doc_id").as("g"))
        .select(col("g"), explode(array(col("g"), col("g") + off,
          col("g") + 2 * off)).as("id"))
      val resolved = trio.join(cc, Seq("id"), "left")
        .groupBy(col("g"))
        .agg(count(col("component")).as("n_lab"),
          countDistinct(col("component")).as("n_comp"))
        .filter(col("n_lab") === 3 && col("n_comp") === 1)
        .agg(count(lit(1)).as("n_groups_resolved"))
      // Per-stage loss attribution over the planted trios: the 3
      // possible within-trio pairs per group (id1 < id2 holds since
      // off > 0), counted per stage — a 3-node group is trio-connected
      // iff ≥2 pairs survive. Lost-at-candidates = trio not connected
      // by the unioned candidate edges; lost-at-verify = candidate-
      // connected but not verify-connected.
      val trioPairs = eligible.select(col("doc_id").as("g"))
        .select(col("g"), explode(array(
          struct(col("g").as("id1"), (col("g") + off).as("id2")),
          struct(col("g").as("id1"), (col("g") + 2 * off).as("id2")),
          struct((col("g") + off).as("id1"),
            (col("g") + 2 * off).as("id2")))).as("p"))
        .select(col("g"), col("p.id1"), col("p.id2"))
      def trioConn(edges: DataFrame): DataFrame = trioPairs
        .join(edges.select(col("id1"), col("id2")), Seq("id1", "id2"),
          "left_semi")
        .groupBy(col("g")).agg(count(lit(1)).as("n_e"))
        .filter(col("n_e") >= 2)
      val connCand = trioConn(cand)
      val connVer = trioConn(verified)
      val stageAttr = connCand.agg(count(lit(1)).as("__n_cand_conn"))
        .crossJoin(connVer.agg(count(lit(1)).as("__n_ver_conn")))
        .crossJoin(trioConn(candLanes.filter(col("__in_block") === 1))
          .agg(count(lit(1)).as("n_groups_block_lane")))
        .crossJoin(trioConn(candLanes.filter(col("__in_cdc") === 1))
          .agg(count(lit(1)).as("n_groups_cdc_lane")))
      val drop = cc.filter(col("id") =!= col("component"))
        .select(col("id").as("doc_id")).localCheckpoint(true)
      val kept = corpus.join(drop, Seq("doc_id"), "left_anti")
      val counts = cand.agg(count(lit(1)).as("n_candidates")).crossJoin(
          verified.agg(count(lit(1)).as("n_verified")))
        .crossJoin(eligible.agg(count(lit(1)).as("n_planted_groups")))
        .crossJoin(drop.filter(col("doc_id") > lit(off) - 1)
          .agg(count(lit(1)).as("n_planted_dropped")))
        .crossJoin(kept.agg(count(lit(1)).as("n_kept")))
      resolved.crossJoin(counts).crossJoin(stageAttr).select(
        col("n_planted_groups"), col("n_groups_resolved"),
        round(col("n_groups_resolved").cast("double") /
          col("n_planted_groups"), 4).as("group_recall"),
        col("n_groups_block_lane"), col("n_groups_cdc_lane"),
        (col("n_planted_groups") - col("__n_cand_conn"))
          .as("n_groups_lost_candidates"),
        (col("__n_cand_conn") - col("__n_ver_conn"))
          .as("n_groups_lost_verify"),
        col("n_candidates"), col("n_verified"),
        when(col("n_candidates") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_verified").cast("double") /
            col("n_candidates"), 4)).as("verify_rate"),
        col("n_planted_dropped"), col("n_kept"))
    }, None),

    // --- Multimodal decode stub: deterministic pseudo-features (U5 shape) ---
    ("m_decode_stub", (s, d) => {
      val m = Multimodal.attachFakeMedia(SparkEntry.T(s, d, "documents"), "text")
      m.select(col("doc_id"),
        Multimodal.decodeFeaturesStub(col("media"), 8).as("feats"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(element_at(col("feats"), 1)), 4).as("avg_feat0"),
          min(size(col("feats"))).as("min_dim"),
          max(size(col("feats"))).as("max_dim"))
    }, None),

    // --- Per-doc unigram entropy + type-token ratio (repetitiveness /
    //     diversity quality signals; entropy as ln(n) − Σc·ln(c)/n so the
    //     float-op sequence is oracle-reproducible) ---
    ("t_entropy", (s, d) =>
      TextAnalysis.tokenEntropy(SparkEntry.T(s, d, "documents"), "doc_id",
        "text")
        .orderBy(col("doc_id")),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($DuckTokens) AS term FROM documents),
              |tc AS (SELECT doc_id, term, count(*) AS c FROM toks GROUP BY 1, 2)
              |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
              |count(*) AS n_types,
              |round(ln(CAST(sum(c) AS DOUBLE)) -
              |  sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) / sum(c), 6) AS entropy,
              |round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS ttr
              |FROM tc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // --- Corpus drift: per-source KL divergence vs the whole corpus
    //     (Laplace-smoothed over the shared vocab) — the distribution-
    //     shift check run before mixing sources into a training set ---
    ("t_kl_drift", (s, d) =>
      TextAnalysis.klDrift(SparkEntry.T(s, d, "documents"), "source", "text")
        .orderBy(col("source")),
      Some(s"""WITH toks AS (SELECT source, unnest($DuckTokens) AS term FROM documents),
              |vocab AS (SELECT term, count(*) AS cq FROM toks GROUP BY term),
              |tot AS (SELECT count(*) AS nq, count(DISTINCT term) AS v FROM toks),
              |bg AS (SELECT source, term, count(*) AS cp FROM toks GROUP BY 1, 2),
              |gt AS (SELECT source, count(*) AS np FROM toks GROUP BY 1),
              |ex AS (SELECT gt.source, gt.np, vocab.term, vocab.cq,
              |         coalesce(bg.cp, 0) AS cp
              |       FROM gt CROSS JOIN vocab
              |       LEFT JOIN bg ON bg.source = gt.source AND bg.term = vocab.term)
              |SELECT source, max(np) AS n_tokens,
              |round(sum((CAST(cp + 1 AS DOUBLE) / (np + v)) *
              |  ln((CAST(cp + 1 AS DOUBLE) / (np + v)) /
              |     (CAST(cq + 1 AS DOUBLE) / (nq + v)))), 6) AS kl
              |FROM ex CROSS JOIN tot GROUP BY source ORDER BY source""".stripMargin)),

    // --- KL drift over a CAPPED head vocabulary (top-500 corpus terms,
    //     ties by term): the open-vocab form's broadcast grows with the
    //     corpus (billions of distinct tokens at web scale); this is the
    //     bounded form the t_kl_drift audit contract names — the explicit
    //     limit makes the broadcast build provably bounded to the plan
    //     audit. Event space = capped vocab, all totals recomputed within
    //     it, so the smoothed distributions still sum to 1. ---
    ("t_kl_drift_capped", (s, d) =>
      TextAnalysis.klDriftCapped(SparkEntry.T(s, d, "documents"),
        "source", "text", vocabCap = 500)
        .orderBy(col("source")),
      Some(s"""WITH toks AS (SELECT source, unnest($DuckTokens) AS term FROM documents),
              |vocab AS (SELECT term, count(*) AS cq FROM toks GROUP BY term
              |          ORDER BY cq DESC, term LIMIT 500),
              |iv AS (SELECT t.source, t.term FROM toks t
              |       JOIN vocab v ON v.term = t.term),
              |tot AS (SELECT count(*) AS nq, count(DISTINCT term) AS v FROM iv),
              |bg AS (SELECT source, term, count(*) AS cp FROM iv GROUP BY 1, 2),
              |gt AS (SELECT source, count(*) AS np FROM iv GROUP BY 1),
              |ex AS (SELECT gt.source, gt.np, vocab.term, vocab.cq,
              |         coalesce(bg.cp, 0) AS cp
              |       FROM gt CROSS JOIN vocab
              |       LEFT JOIN bg ON bg.source = gt.source AND bg.term = vocab.term)
              |SELECT source, max(np) AS n_tokens,
              |round(sum((CAST(cp + 1 AS DOUBLE) / (np + v)) *
              |  ln((CAST(cp + 1 AS DOUBLE) / (np + v)) /
              |     (CAST(cq + 1 AS DOUBLE) / (nq + v)))), 6) AS kl
              |FROM ex CROSS JOIN tot GROUP BY source ORDER BY source""".stripMargin)),

    // --- Train→test n-gram decontamination (GPT-3 appendix-C style
    //     eval-leakage check): trigram membership of each test doc in the
    //     train gram set, over the same md5 hash-split both engines
    //     render identically ---
    ("x12_decontaminate", (s, d) => {
      val sp = Relational.hashSplit(SparkEntry.T(s, d, "documents"),
        "doc_id", Seq("train" -> 0.8, "test" -> 0.2))
      TextAnalysis.decontaminationReport(
        sp.filter(col("split") === "test"),
        sp.filter(col("split") === "train"),
        "doc_id", "text", n = 3)
        .orderBy(col("doc_id"))
    },
      Some(s"""WITH sp AS (SELECT doc_id, $DuckTokens AS ts,
              |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${hx(0.8)}'
              |       THEN 'train' ELSE 'test' END AS split FROM documents),
              |g AS (SELECT doc_id, split,
              |  unnest(CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
              |    ELSE list_transform(range(1, len(ts) - 1),
              |      i -> array_to_string(ts[i:i+2], ' ')) END) AS gram FROM sp),
              |trg AS (SELECT DISTINCT gram FROM g WHERE split = 'train'),
              |teg AS (SELECT DISTINCT doc_id, gram FROM g WHERE split = 'test'),
              |counts AS (SELECT doc_id, count(*) AS n_grams,
              |  count(*) FILTER (WHERE gram IN (SELECT gram FROM trg)) AS n_contaminated
              |  FROM teg GROUP BY doc_id)
              |SELECT doc_id, n_grams, n_contaminated,
              |n_contaminated > 0 AS contaminated
              |FROM counts ORDER BY doc_id""".stripMargin)),

    // --- SEMANTIC decontamination (the embedding-level sibling of x12 —
    //     leakage the n-gram match misses: paraphrases, translations,
    //     format shifts): every train embedding scored against the whole
    //     broadcast test batch in ONE projection (HOF fold + native dot,
    //     zero train-side shuffles), max per-pair cosine rounded to 6
    //     BEFORE the max/threshold so keep/drop is engine-identical.
    //     nlist=0 here (auto since r13: the shape gate's bounded probe
    //     sees the 50-vector test side and stays exact — spec-pinned
    //     bit-equal to the pinned exact form on this shape, so the
    //     oracle hash is gate-invariant); a corpus-shaped test side
    //     would auto-escalate to the cluster-blocked path, which is
    //     spec-pinned blocked ⊆ exact and exact-on-geometric. ---
    ("x12b_semantic_decontaminate", (s, d) => {
      val emb = SparkEntry.T(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      Similarity.semanticDecontaminate(
        emb.filter(col("vec_id") >= 50), emb.filter(col("vec_id") < 50),
        "vec_id", "embedding", threshold = 0.35)
        .orderBy(col("vec_id"))
    },
      Some("""WITH ea AS (SELECT vec_id, unnest(range(len(embedding))) AS pos,
             |  CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
             |nrm AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ea GROUP BY vec_id),
             |dt AS (SELECT a.vec_id AS tid, b.vec_id AS qid, sum(a.v * b.v) AS dot
             |       FROM ea a JOIN ea b ON a.pos = b.pos
             |       AND a.vec_id >= 50 AND b.vec_id < 50 GROUP BY 1, 2),
             |cs AS (SELECT tid, round(dot / (n1.nrm * n2.nrm), 6) AS c
             |       FROM dt JOIN nrm n1 ON n1.vec_id = tid
             |       JOIN nrm n2 ON n2.vec_id = qid)
             |SELECT tid AS vec_id, max(c) AS max_sim,
             |max(c) >= 0.35 AS contaminated
             |FROM cs GROUP BY tid ORDER BY tid""".stripMargin)),

    // --- End-to-end near-dup RESOLUTION: pairs → connected components →
    //     keep the min-id doc per dup group → corpus with non-keeper
    //     members dropped. The step dedup pipelines actually ship (the
    //     keep/drop decision d_dup_groups stops short of); untouched
    //     docs pass through by the anti-join. ---
    ("x16_dedup_resolve", (s, d) => {
      val docs = SparkEntry.T(s, d, "documents")
      val pairs = Dedup.tokenJaccardPairs(docs, "doc_id", "text", 0.7,
        bucketCols = Seq("lang", "source"))
      val cc = Dedup.connectedComponents(pairs, "id1", "id2")
      val drop = cc.filter(col("id") =!= col("component"))
        .select(col("id").as("doc_id"))
      docs.join(drop, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    },
      Some(s"""WITH RECURSIVE toks AS (SELECT doc_id, lang, source,
              |  list_distinct($DuckTokens) AS ts FROM documents),
              |pr AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
              |  len(list_intersect(a.ts, b.ts))::DOUBLE /
              |    (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) AS jaccard
              |  FROM toks a JOIN toks b
              |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id),
              |ok AS (SELECT id1, id2 FROM pr WHERE jaccard >= 0.7),
              |e AS (SELECT id1 AS a, id2 AS b FROM ok
              |      UNION SELECT id2, id1 FROM ok),
              |nodes AS (SELECT DISTINCT a AS n FROM e),
              |reach(n, m) AS (SELECT n, n FROM nodes
              |  UNION SELECT e.a, r.m FROM e JOIN reach r ON e.b = r.n),
              |comp AS (SELECT n, min(m) AS component FROM reach GROUP BY n)
              |SELECT doc_id, lang, source FROM documents
              |WHERE doc_id NOT IN (SELECT n FROM comp WHERE component <> n)
              |ORDER BY doc_id""".stripMargin)),

    // --- Flagship composition #3 (r12): the TRAINING-MIX pipeline in ONE
    //     Catalyst plan — passage-level dedup (rewritten clean_text) →
    //     drop fully-duplicated docs → per-lang uncapped uniform-target
    //     weights measured on the DEDUPED corpus → deterministic
    //     upsampling (epochs tagged) → greedy sequence packing of the
    //     mixed stream into 64-token bins per lang. Every stage is
    //     oracle-proven standalone (d_passage_dedup, x14c, x9); this pins
    //     their COMPOSITION, token counts flowing from the REWRITTEN
    //     text. pack_id = doc_id·100 + epoch keeps copies distinct and
    //     ordered; maxCopies=99 makes upsampleMix's loud bound coincide
    //     with the ·100 encoding, so a skewed lang distribution fails
    //     with raise_error BEFORE any pack_id collision (epoch ≤ 99 is
    //     otherwise only a dataset property: N/S ≤ 100·n_s). ---
    ("c6_training_mix", (s, d) => {
      val docs = SparkEntry.T(s, d, "documents")
      val cleaned = TextAnalysis.dedupPassages(docs, "doc_id", "text",
          size = 16)
        .filter(col("n_kept") > 0)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      val counts = cleaned.groupBy(col("lang")).agg(count(lit(1)).as("ns"))
      val tot = counts.agg(sum(col("ns")).as("n"), count(lit(1)).as("s"))
      val weights = counts.crossJoin(broadcast(tot))
        .select(col("lang"),
          (col("n").cast("double") / col("s") / col("ns")).as("w"))
      val mixed = Relational.upsampleMix(
          cleaned.join(broadcast(weights), Seq("lang")),
          col("doc_id"), col("w"), maxCopies = 99)
        .select(col("lang"),
          (col("doc_id") * 100 + col("epoch")).as("pack_id"),
          col("clean_text"))
      TextAnalysis.packSequences(mixed, "pack_id", "clean_text", 64,
          groupCols = Seq("lang"))
        .orderBy(col("lang"), col("bin"))
    },
      Some(s"""WITH t AS (SELECT doc_id, $DuckTokens AS ts FROM documents),
              |seg AS (SELECT doc_id, unnest(list_transform(
              |  range(0, greatest(CAST(ceil((len(ts)-16)/16.0) AS BIGINT),0)+1),
              |  i -> struct_pack(idx := i,
              |    p := array_to_string(ts[i*16+1 : i*16+16], ' ')))) AS s FROM t),
              |k AS (SELECT doc_id, s.idx AS passage_idx, s.p AS passage,
              |  row_number() OVER (PARTITION BY s.p
              |    ORDER BY doc_id, s.idx) = 1 AS keep FROM seg),
              |cl AS (SELECT k.doc_id, d.lang,
              |  string_agg(passage, ' ' ORDER BY passage_idx)
              |    FILTER (WHERE keep) AS clean_text
              |  FROM k JOIN documents d ON d.doc_id = k.doc_id
              |  GROUP BY k.doc_id, d.lang
              |  HAVING count(*) FILTER (WHERE keep) > 0),
              |c AS (SELECT lang, count(*) AS ns FROM cl GROUP BY 1),
              |tt AS (SELECT CAST(sum(ns) AS BIGINT) AS n, count(*) AS s FROM c),
              |r AS (SELECT lang, CAST(n AS DOUBLE) / s / ns AS w
              |  FROM c CROSS JOIN tt),
              |b AS (SELECT cl.doc_id, cl.lang, cl.clean_text,
              |  CAST(floor(w) AS BIGINT) + CASE WHEN
              |    substring(md5(CAST(cl.doc_id AS VARCHAR)), 1, 8) <
              |    printf('%08x', CAST(least(floor((w - floor(w)) * 4294967296.0),
              |      4294967295.0) AS BIGINT)) THEN 1 ELSE 0 END AS copies
              |  FROM cl JOIN r USING (lang)),
              |m AS (SELECT lang,
              |  doc_id * 100 + unnest(range(1, copies + 1)) AS pack_id,
              |  CAST(len(string_split(clean_text, ' ')) AS BIGINT) AS nt
              |  FROM b WHERE copies > 0),
              |o AS (SELECT lang, pack_id, nt,
              |  CAST(coalesce(sum(nt) OVER (PARTITION BY lang ORDER BY pack_id
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              |    AS BIGINT) AS st FROM m)
              |SELECT lang, st // 64 AS bin, count(*) AS n_docs,
              |CAST(sum(nt) AS BIGINT) AS total_tokens,
              |min(pack_id) AS first_doc, max(pack_id) AS last_doc
              |FROM o GROUP BY 1, 2 ORDER BY lang, bin""".stripMargin)),

    // --- Flagship composition #2: the LLM corpus-prep pipeline end-to-end
    //     in ONE Catalyst plan — quality gate → exact dedup → near-dup
    //     resolution (CC keeper) → train/test split → train-side 5-gram
    //     decontamination → per-lang deterministic cap. Every stage is a
    //     device already oracle-proven standalone (t_text_stats gate,
    //     d_exact_dedup, x16, x8/x12, x6); this pins their COMPOSITION. ---
    ("c2_corpus_pipeline", (s, d) => {
      // Single tokenization: __norm/__tokens are materialized ONCE after
      // the scan and threaded through every stage via the From* entry
      // points — the quality gate, exact dedup, the Jaccard candidate
      // index and decontamination previously each re-ran
      // lower+regexp+trim+split over the raw text in their own subtrees.
      val docs = SparkEntry.T(s, d, "documents")
        .withColumn("__norm", Dedup.normalizeText(col("text")))
        .withColumn("__tokens", split(col("__norm"), " "))
      val q = docs.filter(size(col("__tokens")) >= 30)
      val ex = Dedup.exactDedupFromNorm(q, "doc_id", "__norm")
      val pairs = Dedup.tokenJaccardPairsFromTokens(ex, "doc_id", "__tokens",
        0.7, bucketCols = Seq("lang", "source"))
      val cc = Dedup.connectedComponents(pairs, "id1", "id2")
      val resolved = ex.join(
        cc.filter(col("id") =!= col("component")).select(col("id").as("doc_id")),
        Seq("doc_id"), "left_anti")
      // Materialization barrier on the resolved+split corpus, projected to
      // exactly what downstream needs: FOUR consumers follow (train gram
      // explode, test gram explode, the clean anti-join's train re-read,
      // capPerGroup's input) and each would otherwise re-run the whole
      // scan→gate→dedup→resolve→split chain as its own subtree. Local
      // checkpoint, not persist: blocks are context-cleaned when the RDD
      // is GC'd — the same lineage device the CC loop inside
      // connectedComponents already uses.
      val sp = Relational.hashSplit(resolved, "doc_id",
        Seq("train" -> 0.8, "test" -> 0.2))
        .select(col("doc_id"), col("lang"), col("source"), col("split"),
          col("__tokens"))
        .localCheckpoint(true)
      val train = sp.filter(col("split") === "train")
      val test = sp.filter(col("split") === "test")
      val contaminated = TextAnalysis.decontaminationReportFromTokens(
          train, test, "doc_id", "__tokens", n = 5)
        .filter(col("contaminated")).select(col("doc_id"))
      val clean = train.join(contaminated, Seq("doc_id"), "left_anti")
      Relational.capPerGroup(clean, Seq("lang"), 40, col("doc_id"))
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    },
      Some(s"""WITH RECURSIVE
              |q AS (SELECT doc_id, text, lang, source FROM documents
              |      WHERE len($DuckTokens) >= 30),
              |ex AS (SELECT q.* FROM q JOIN (
              |    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h,
              |      min(doc_id) AS keep FROM q GROUP BY 1) k ON q.doc_id = k.keep),
              |toks AS (SELECT doc_id, lang, source,
              |  list_distinct($DuckTokens) AS ts FROM ex),
              |pr AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
              |  len(list_intersect(a.ts, b.ts))::DOUBLE /
              |    (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) AS jaccard
              |  FROM toks a JOIN toks b
              |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id),
              |ok AS (SELECT id1, id2 FROM pr WHERE jaccard >= 0.7),
              |e AS (SELECT id1 AS a, id2 AS b FROM ok UNION SELECT id2, id1 FROM ok),
              |nodes AS (SELECT DISTINCT a AS n FROM e),
              |reach(n, m) AS (SELECT n, n FROM nodes
              |  UNION SELECT e.a, r.m FROM e JOIN reach r ON e.b = r.n),
              |comp AS (SELECT n, min(m) AS component FROM reach GROUP BY n),
              |resolved AS (SELECT * FROM ex WHERE doc_id NOT IN
              |  (SELECT n FROM comp WHERE component <> n)),
              |sp AS (SELECT *, CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
              |    < '${hx(0.8)}' THEN 'train' ELSE 'test' END AS split FROM resolved),
              |g AS (SELECT doc_id, split,
              |  unnest(CASE WHEN len(ts2) < 5 THEN [array_to_string(ts2, ' ')]
              |    ELSE list_transform(range(1, len(ts2) - 3),
              |      i -> array_to_string(ts2[i:i+4], ' ')) END) AS gram
              |  FROM (SELECT doc_id, split, $DuckTokens AS ts2 FROM sp) z),
              |teg AS (SELECT DISTINCT gram FROM g WHERE split = 'test'),
              |bad AS (SELECT DISTINCT doc_id FROM g WHERE split = 'train'
              |        AND gram IN (SELECT gram FROM teg)),
              |clean AS (SELECT * FROM sp WHERE split = 'train'
              |          AND doc_id NOT IN (SELECT doc_id FROM bad)),
              |capped AS (SELECT doc_id, lang, source, row_number() OVER (
              |  PARTITION BY lang
              |  ORDER BY (doc_id % 1000003) * 2654435761 % 2147483647, doc_id) AS rn
              |  FROM clean)
              |SELECT doc_id, lang, source FROM capped WHERE rn <= 40
              |ORDER BY doc_id""".stripMargin)),

    // --- Edit-distance near-dup verify over bucketed Jaccard candidates
    //     (fuzzy dedup: O(len²) Levenshtein only on the linear candidate
    //     set, never all-pairs) ---
    ("d_lev_neardup", (s, d) =>
      Dedup.editSimilarityPairs(SparkEntry.T(s, d, "documents"), "doc_id",
        "text", minSim = 0.35, candidateThreshold = 0.7,
        bucketCols = Seq("lang", "source"))
        .orderBy(col("id1"), col("id2")),
      Some(s"""WITH toks AS (SELECT doc_id, lang, source,
              |  list_distinct($DuckTokens) AS ts,
              |  trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
              |  FROM documents),
              |cand AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
              |  a.norm AS n1, b.norm AS n2
              |  FROM toks a JOIN toks b
              |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
              |  WHERE len(list_intersect(a.ts, b.ts))::DOUBLE /
              |    (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) >= 0.7),
              |v AS (SELECT id1, id2, levenshtein(n1, n2) AS lev,
              |  CASE WHEN greatest(len(n1), len(n2)) = 0 THEN 1.0
              |       ELSE round(1.0 - CAST(levenshtein(n1, n2) AS DOUBLE) /
              |              greatest(len(n1), len(n2)), 6) END AS edit_sim
              |  FROM cand)
              |SELECT id1, id2, CAST(lev AS BIGINT) AS lev, edit_sim
              |FROM v WHERE edit_sim >= 0.35 ORDER BY id1, id2""".stripMargin)),

    // --- Span-level exact-duplicate stats (Lee et al. 2022: duplicated
    //     SUBSTRINGS matter below doc granularity). Distinct 8-token
    //     spans per doc; a span counts as duplicated when ≥1 OTHER doc
    //     contains it. Spark shuffles 8-byte xxhash64 span keys, the
    //     oracle groups the raw gram strings — same counts (a cross-doc
    //     collision needs ~2³² distinct spans). ---
    ("d_span_dups", (s, d) =>
      TextAnalysis.spanDupStats(SparkEntry.T(s, d, "documents"),
        "doc_id", "text", n = 8)
        .orderBy(col("doc_id")),
      Some(s"""WITH t AS (SELECT doc_id, $DuckTokens AS ts FROM documents),
              |g AS (SELECT DISTINCT doc_id, gram FROM (SELECT doc_id,
              |  unnest(CASE WHEN len(ts) < 8 THEN [array_to_string(ts, ' ')]
              |    ELSE list_transform(range(1, len(ts) - 6),
              |      i -> array_to_string(ts[i:i+7], ' ')) END) AS gram FROM t) z),
              |c AS (SELECT gram, count(*) AS n_docs FROM g GROUP BY 1)
              |SELECT g.doc_id, count(*) AS n_spans,
              |count(*) FILTER (WHERE c.n_docs > 1) AS n_dup_spans,
              |round((count(*) FILTER (WHERE c.n_docs > 1))::DOUBLE / count(*), 6) AS dup_ratio
              |FROM g JOIN c USING (gram)
              |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin)),

    // --- RAG chunking manifest: overlapping 32-token windows every 24
    //     tokens (8-token overlap), one row per (doc, chunk) with the
    //     md5 the embedding/indexing stage would key on. Pure per-row
    //     explode — no shuffle. ---
    // --- Repeated-passage REMOVAL (C4's repeated-line drop / Lee et al.
    //     2022 at passage granularity) — the rewrite stage d_span_dups is
    //     the observability for: non-overlapping 16-token passages,
    //     first-occurrence-wins election on the passage content, documents
    //     reassembled from their surviving passages in order. The oracle
    //     reproduces the election as a row_number window over the same
    //     (doc_id, passage_idx) order; clean_text string equality is the
    //     strongest check the gate offers (byte-for-byte reassembly). ---
    ("d_passage_dedup", (s, d) =>
      TextAnalysis.dedupPassages(SparkEntry.T(s, d, "documents"),
        "doc_id", "text", size = 16)
        .orderBy(col("doc_id")),
      Some(s"""WITH t AS (SELECT doc_id, $DuckTokens AS ts FROM documents),
              |seg AS (SELECT doc_id, unnest(list_transform(
              |  range(0, greatest(CAST(ceil((len(ts)-16)/16.0) AS BIGINT),0)+1),
              |  i -> struct_pack(idx := i,
              |    p := array_to_string(ts[i*16+1 : i*16+16], ' ')))) AS s FROM t),
              |k AS (SELECT doc_id, s.idx AS passage_idx, s.p AS passage,
              |  row_number() OVER (PARTITION BY s.p
              |    ORDER BY doc_id, s.idx) = 1 AS keep FROM seg)
              |SELECT doc_id, count(*) AS n_passages,
              |count(*) FILTER (WHERE keep) AS n_kept,
              |coalesce(string_agg(passage, ' ' ORDER BY passage_idx)
              |  FILTER (WHERE keep), '') AS clean_text
              |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // --- Span-granular duplicate REMOVAL at arbitrary offsets (VERDICT
    //     r14 next #3 — the full Lee et al. 2022 semantics d_passage_dedup
    //     approximates at fixed 16-token blocks): sliding 8-token spans,
    //     first-occurrence-wins election on span content, every non-first
    //     occurrence covers its positions for removal, docs reassembled
    //     from surviving tokens. The oracle replays election + coverage +
    //     reassembly; clean_text equality is byte-for-byte. ---
    ("d_span_dedup", (s, d) =>
      TextAnalysis.dedupSpans(SparkEntry.T(s, d, "documents"),
        "doc_id", "text", n = 8)
        .orderBy(col("doc_id")),
      Some(s"""WITH t AS (SELECT doc_id, $DuckTokens AS ts FROM documents),
              |sp AS (SELECT doc_id, i - 1 AS si,
              |  md5(array_to_string(ts[i:i+7], ' ')) AS h
              |  FROM t, unnest(range(1, len(ts) - 6)) AS r(i)
              |  WHERE len(ts) >= 8),
              |k AS (SELECT doc_id, si, row_number() OVER
              |  (PARTITION BY h ORDER BY doc_id, si) = 1 AS first FROM sp),
              |rm AS (SELECT DISTINCT doc_id, si + j AS p
              |  FROM k, unnest(range(0, 8)) AS u(j) WHERE NOT first),
              |tok AS (SELECT doc_id, x.s.p AS p, x.s.tok AS tok FROM t,
              |  unnest(list_transform(range(1, len(ts) + 1),
              |    i -> struct_pack(p := i - 1, tok := ts[i]))) AS x(s))
              |SELECT tok.doc_id, count(*) AS n_tokens,
              |count(*) FILTER (WHERE rm.p IS NOT NULL) AS n_removed,
              |coalesce(string_agg(tok.tok, ' ' ORDER BY tok.p)
              |  FILTER (WHERE rm.p IS NULL), '') AS clean_text
              |FROM tok LEFT JOIN rm
              |  ON tok.doc_id = rm.doc_id AND tok.p = rm.p
              |GROUP BY tok.doc_id ORDER BY tok.doc_id""".stripMargin)),

    ("t_chunk_docs", (s, d) =>
      TextAnalysis.chunkDocs(SparkEntry.T(s, d, "documents"),
        "doc_id", "text", size = 32, stride = 24)
        .orderBy(col("doc_id"), col("chunk_idx")),
      Some(s"""WITH t AS (SELECT doc_id, $DuckTokens AS ts FROM documents),
              |n AS (SELECT doc_id, ts,
              |  greatest(0, CAST(ceil((len(ts) - 32)::DOUBLE / 24) AS BIGINT)) AS last_idx FROM t),
              |x AS (SELECT doc_id, ts, unnest(range(0, last_idx + 1)) AS chunk_idx FROM n),
              |ch AS (SELECT doc_id, chunk_idx,
              |  ts[chunk_idx * 24 + 1 : chunk_idx * 24 + 32] AS chunk FROM x)
              |SELECT doc_id, chunk_idx, chunk_idx * 24 AS start_token,
              |len(chunk)::BIGINT AS n_tokens,
              |md5(array_to_string(chunk, ' ')) AS chunk_hash
              |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin)),

    // --- Semantic dedup, resolved (SemDeDup, Abbas et al. 2023): connect
    //     within-bucket pairs at cosine ≥ 0.35, keep min-id per semantic
    //     group. `label` is the blocking bucket here (the testdata's
    //     semantic partition); the 100 TB bucket is a kmeans cluster id
    //     from assignClusters — same operator, same resolution. Cosines
    //     round to 6 before the threshold so the keep/drop boundary is
    //     engine-reproducible. ---
    ("d_semantic_resolve", (s, d) =>
      Similarity.semanticDedupResolve(
        SparkEntry.T(s, d, "embeddings")
          .select(col("vec_id"), col("label"), col("embedding")),
        "vec_id", "embedding", "label", threshold = 0.35)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id")),
      Some("""WITH RECURSIVE ea AS (SELECT vec_id, unnest(range(len(embedding))) AS pos,
             |  CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
             |nrm AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ea GROUP BY vec_id),
             |pr AS (SELECT a.vec_id AS i1, b.vec_id AS i2 FROM embeddings a
             |  JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id),
             |dt AS (SELECT p.i1, p.i2, sum(x.v * y.v) AS dot FROM pr p
             |  JOIN ea x ON x.vec_id = p.i1
             |  JOIN ea y ON y.vec_id = p.i2 AND y.pos = x.pos GROUP BY 1, 2),
             |ok AS (SELECT d.i1, d.i2 FROM dt d
             |  JOIN nrm n1 ON n1.vec_id = d.i1 JOIN nrm n2 ON n2.vec_id = d.i2
             |  WHERE round(d.dot / (n1.nrm * n2.nrm), 6) >= 0.35),
             |e AS (SELECT i1 AS a, i2 AS b FROM ok UNION SELECT i2, i1 FROM ok),
             |nodes AS (SELECT DISTINCT a AS n FROM e),
             |reach(n, m) AS (SELECT n, n FROM nodes
             |  UNION SELECT e.a, r.m FROM e JOIN reach r ON e.b = r.n),
             |comp AS (SELECT n, min(m) AS component FROM reach GROUP BY n)
             |SELECT vec_id, label FROM embeddings
             |WHERE vec_id NOT IN (SELECT n FROM comp WHERE component <> n)
             |ORDER BY vec_id""".stripMargin)),

    // --- SemDeDup blocking-approximation recall (same shape as the
    //     MinHash-cap and ANN recall harnesses): the kmeans-cluster
    //     blocking the 100 TB path substitutes for d_semantic_resolve's
    //     label blocking, measured as pair recall against the
    //     label-blocked set every round. Hash-seeded centroids → no SQL
    //     oracle; the nlist=1 ≡ exact anchor is pinned in VectorSpec.
    //     Reading the number: this testdata's labels are NOT geometric
    //     clusters (embeddings are near-uniform within label), so the two
    //     blockings genuinely disagree (~0.35 at sf0.01) — the harness's
    //     job is to REPORT that divergence; on a corpus whose near-dups
    //     are geometrically tight the cluster path recovers them
    //     (VectorSpec planted-pair cases). ---
    ("d_semantic_recall", (s, d) => {
      val emb = SparkEntry.T(s, d, "embeddings")
        .select(col("vec_id"), col("label"), col("embedding"))
      val nlist = math.max(4L,
        SparkEntry.rowCount(s, d, "embeddings") / 1000L).toInt
      Similarity.semanticBlockingRecall(emb, "vec_id", "embedding", "label",
        threshold = 0.35, nlist = nlist)
    }, None),

    // --- The GEOMETRIC half of the SemDeDup blocking evidence (VERDICT
    //     r10/r11 watch item): the row above measures cluster blocking
    //     against a NON-geometric labeling (~0.35 — the labels don't
    //     correlate with embedding geometry, so the divergence is the
    //     honest answer there); this row measures it on the regime
    //     SemDeDup actually targets — planted ε-tight near-dup groups
    //     (plantedGeometricCorpus: 3 copies/vector, eps=0.02 ⇒
    //     within-group cosine ≈0.991 vs random-pair background σ≈1/8).
    //     nlist ∝ n keeps bucket size constant (the scale rule);
    //     multiProbe=2 recovers boundary/centroid splits. The recall
    //     column is the per-round ≥0.9 evidence; the ≥0.9 bar itself is
    //     pinned in VectorSpec. ---
    ("d_semantic_recall_geo", (s, d) => {
      val emb = SparkEntry.T(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val geo = Similarity.plantedGeometricCorpus(emb, "vec_id", "embedding",
        copies = 3, eps = 0.02)
      val nlist = math.max(8L,
        SparkEntry.rowCount(s, d, "embeddings") * 3 / 100L).toInt
      Similarity.semanticBlockingRecall(geo, "vec_id", "vec", "geo_group",
        threshold = 0.98, nlist = nlist, multiProbe = 2)
    }, None),

    // --- Incremental dedup store, gated end-to-end: the corpus ingested
    //     as two waves (even ids, then odd) through the REAL bucketed
    //     first-writer-wins merge (StreamingJobs.incrementalDedupBatch —
    //     same code the streaming form runs per micro-batch), then the
    //     accumulated store read back as the deduped corpus. The store is
    //     rebuilt fresh per invocation (tiny at gate scale) so the query
    //     is idempotent. Oracle: min (wave, id) per content hash. ---
    ("x25_incremental_dedup", (s, d) => {
      val docs = SparkEntry.T(s, d, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      // Keyed by (dataset-dir hash, applicationId): the app id makes the
      // path private to this SparkSession, so concurrent harness processes
      // on the same dataset dir (or a String.hashCode collision across
      // dirs) can't race the delete/rebuild/read-back. Within one session
      // the path is stable, so re-invocation still rebuilds idempotently.
      val store = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_incdedup_${Integer.toHexString(d.hashCode)}_" +
          s.sparkContext.applicationId).getAbsolutePath
      val p = new org.apache.hadoop.fs.Path(store)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      graft.streaming.StreamingJobs.incrementalDedupBatch(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        store, batchId = 0L, numBuckets = 8)
      graft.streaming.StreamingJobs.incrementalDedupBatch(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        store, batchId = 1L, numBuckets = 8)
      // Materialize the read-back eagerly (localCheckpoint) so the store
      // dir can be deleted before returning — otherwise every session
      // leaks a graft_incdedup_<hash>_<appId> dir in java.io.tmpdir
      // forever (the appId keying that prevents cross-process races also
      // defeats the old overwrite-on-next-run self-cleanup).
      try {
        graft.streaming.StreamingJobs.dedupedCorpus(s, store)
          .select(col("doc_id"), col("lang"))
          .orderBy(col("doc_id"))
          .localCheckpoint()
      } finally { // the swap staging dir is a sibling — delete both
        fs.delete(p, true)
        fs.delete(new org.apache.hadoop.fs.Path(store + ".stage"), true)
      }
    },
      Some("""WITH k AS (SELECT doc_id, lang,
             |  row_number() OVER (
             |    PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
             |    ORDER BY doc_id % 2, doc_id) AS rn
             |  FROM documents)
             |SELECT doc_id, lang FROM k WHERE rn = 1
             |ORDER BY doc_id""".stripMargin)),

    // --- The PASSAGE-granularity sibling of x25: the same two-wave ingest
    //     (even doc_ids, then odd) through the REAL bucketed first-writer-
    //     wins store merge, but keyed on 16-token passage content — the
    //     incremental form of d_passage_dedup. A passage loses to any
    //     content-equal passage first observed at a smaller
    //     (wave, doc_id, passage_idx); the store holds exactly the winning
    //     passages, read back as the rewritten corpus. The oracle replays
    //     the election with wave = doc_id % 2 first in the order. Docs
    //     whose every passage lost have no output row (caller's call). ---
    ("x25b_incremental_passage_dedup", (s, d) => {
      val docs = SparkEntry.T(s, d, "documents")
        .select(col("doc_id"), col("text"))
      val store = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_incpass_${Integer.toHexString(d.hashCode)}_" +
          s.sparkContext.applicationId).getAbsolutePath
      val p = new org.apache.hadoop.fs.Path(store)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      graft.streaming.StreamingJobs.incrementalPassageDedupBatch(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        store, batchId = 0L, numBuckets = 8)
      graft.streaming.StreamingJobs.incrementalPassageDedupBatch(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        store, batchId = 1L, numBuckets = 8)
      try {
        graft.streaming.StreamingJobs.passageCleanCorpus(s, store, "doc_id")
          .orderBy(col("doc_id"))
          .localCheckpoint()
      } finally {
        fs.delete(p, true)
        fs.delete(new org.apache.hadoop.fs.Path(store + ".stage"), true)
      }
    },
      Some(s"""WITH t AS (SELECT doc_id, $DuckTokens AS ts FROM documents),
              |seg AS (SELECT doc_id, unnest(list_transform(
              |  range(0, greatest(CAST(ceil((len(ts)-16)/16.0) AS BIGINT),0)+1),
              |  i -> struct_pack(idx := i,
              |    p := array_to_string(ts[i*16+1 : i*16+16], ' ')))) AS s FROM t),
              |k AS (SELECT doc_id, s.idx AS passage_idx, s.p AS passage,
              |  row_number() OVER (PARTITION BY s.p
              |    ORDER BY doc_id % 2, doc_id, s.idx) = 1 AS keep FROM seg)
              |SELECT doc_id, count(*) FILTER (WHERE keep) AS n_kept,
              |string_agg(passage, ' ' ORDER BY passage_idx)
              |  FILTER (WHERE keep) AS clean_text
              |FROM k GROUP BY doc_id
              |HAVING count(*) FILTER (WHERE keep) > 0
              |ORDER BY doc_id""".stripMargin)),

    // --- Flagship composition #4: the per-document text-feature MATRIX —
    //     every per-row text signal (counts, ratios, entropy, quality,
    //     language, fingerprint, pattern counts) in ONE pass with ONE
    //     tokenization, REQUIREd to plan as a pure projection (no joins,
    //     no aggregations — the only exchange is the presentation sort).
    //     The frame a corpus-filter model trains on; at 100 TB this is
    //     scan-bound and embarrassingly parallel. ---
    ("c4_text_features", (s, d) => {
      val sorted = TextAnalysis.textFeatureMatrix(
        SparkEntry.T(s, d, "documents"), "doc_id", "text",
        Stopwords, LangProfiles)
        .orderBy(col("doc_id"))
      // Guard runs over sparkPlan (the pre-AQE physical plan): under
      // adaptive execution the executedPlan is wrapped in
      // AdaptiveSparkPlanExec — a LEAF node — so collecting over it sees
      // nothing and the require passes vacuously (ADVICE r10). AQE only
      // re-plans exchanges; it cannot introduce a join or aggregation the
      // static plan lacks, so the pre-AQE plan is the right witness.
      val offending = sorted.queryExecution.sparkPlan.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
          a.nodeName
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
          j.nodeName
      }
      require(offending.isEmpty,
        s"c4_text_features must be a single-scan projection; found: $offending")
      sorted
    }, {
      val score = LangProfiles.map { case (lang, markers) =>
        val arr = markers.map(m => s"'$m'").mkString("[", ",", "]")
        s"len(list_intersect(td, $arr)) AS s_$lang"
      }.mkString(", ")
      val langs = LangProfiles.map(_._1) // alphabetical already
      val caseChain = langs.zipWithIndex.map { case (l, i) =>
        val rest = langs.drop(i + 1)
        if (rest.isEmpty) s"ELSE '$l' END"
        else s"WHEN ${rest.map(r => s"s_$l >= s_$r").mkString(" AND ")} THEN '$l'"
      }
      val langCase = s"CASE ${caseChain.init.mkString(" ")} ${caseChain.last}"
      val stopArr = "['the','a','an','of','in','and','to','is']"
      val punctSql = "CASE WHEN length(text) = 0 THEN 0.0 ELSE " +
        "(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE / length(text) END"
      val stopSql = s"CASE WHEN len(ts) = 0 THEN 0.0 ELSE " +
        s"len(list_filter(ts, x -> list_contains($stopArr, x)))::DOUBLE / len(ts) END"
      Some(s"""WITH t0 AS (SELECT doc_id, text, $DuckTokens AS ts FROM documents),
              |t AS (SELECT doc_id, text, ts, list_distinct(ts) AS td FROM t0),
              |sc AS (SELECT doc_id, $score FROM t),
              |f AS (SELECT doc_id,
              |CAST(len(ts) AS INTEGER) AS n_tokens,
              |CAST(length(text) AS INTEGER) AS n_chars,
              |CASE WHEN len(ts) = 0 THEN 0.0 ELSE
              |  list_sum(list_transform(ts, x -> CAST(length(x) AS BIGINT)))::DOUBLE / len(ts) END AS avg_word_len,
              |$punctSql AS punct_ratio,
              |CASE WHEN length(text) = 0 THEN 0.0 ELSE
              |  (length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))::DOUBLE / length(text) END AS upper_ratio,
              |CASE WHEN length(text) = 0 THEN 0.0 ELSE
              |  (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE / length(text) END AS digit_ratio,
              |$stopSql AS stopword_ratio,
              |CAST(len(td) AS INTEGER) AS n_distinct_tokens,
              |round(len(td)::DOUBLE / len(ts), 6) AS ttr,
              |round(ln(len(ts)::DOUBLE) - list_reduce(
              |  list_concat([CAST(0.0 AS DOUBLE)],
              |    list_transform(td, x -> len(list_filter(ts, y -> y = x))::DOUBLE)),
              |  (a, c) -> a + c * ln(c)) / len(ts), 6) AS entropy,
              |least(greatest(
              |  least(len(ts) / 100.0, 1.0) * 0.4 +
              |  (1.0 - least($punctSql * 5.0, 1.0)) * 0.3 +
              |  least($stopSql * 4.0, 1.0) * 0.3,
              |  0.0), 1.0) AS quality,
              |list_reduce(
              |  list_concat([CAST(7 AS BIGINT)],
              |              list_transform(string_split(text, ''), x -> CAST(ascii(x) AS BIGINT))),
              |  (a, b) -> (a * 31 + b) % 2147483647) AS fp,
              |CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS INTEGER) AS n_urls,
              |CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS INTEGER) AS n_emails,
              |CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_digit_runs
              |FROM t)
              |SELECT f.*, $langCase AS lang_pred
              |FROM f JOIN sc ON f.doc_id = sc.doc_id
              |ORDER BY f.doc_id""".stripMargin)
    })
  )
}
