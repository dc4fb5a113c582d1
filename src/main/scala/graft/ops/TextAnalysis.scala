package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge

/** Text analysis for training-data pipelines (builder-brief north-star
  * component): language ID, quality scoring, token counting, document
  * fingerprinting. Every function is a per-row Catalyst expression —
  * linear scans, no shuffles, codegen-friendly at 100 TB.
  */
object TextAnalysis {

  /** Whitespace tokens (lowercased, collapsed). */
  def tokens(c: Column): Column = split(trim(regexp_replace(lower(c), "\\s+", " ")), " ")

  /** Token count — whitespace tokenization. */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** Language ID by marker-token profiles: score(lang) = count of distinct
    * doc tokens in that language's marker list; predict argmax (ties broken
    * by language code ascending). `profiles` rides along as array literals —
    * an n-gram-profile upgrade slots in the same shape. */
  def langIdByProfiles(c: Column, profiles: Seq[(String, Seq[String])]): Column =
    langIdFromTokens(tokens(c), profiles)

  /** [[langIdByProfiles]] over an already-tokenized array — the
    * single-tokenization entry point fused pipelines thread their token
    * column through. */
  def langIdFromTokens(toks: Column, profiles: Seq[(String, Seq[String])]): Column = {
    val t = array_distinct(toks)
    // argmax via array_max over (score, -alphabetical_rank, lang) structs:
    // lexicographic struct comparison picks highest score; on ties the
    // negated rank makes the alphabetically-first language win.
    val scored = profiles.sortBy(_._1).zipWithIndex.map {
      case ((lang, markers), i) =>
        val m = array(markers.map(lit): _*)
        struct(size(array_intersect(t, m)).as("score"),
          lit(-i).as("langord"), lit(lang).as("lang"))
    }
    array_max(array(scored: _*)).getField("lang")
  }

  /** Rolling polynomial fingerprint (Rabin-Karp style) over the whole
    * document: acc = (acc*31 + charCode) mod 2^31−1, init 7. The 31-bit
    * modulus keeps every intermediate < 2^36, so the fold never overflows
    * a 64-bit long on any engine. Stable across runs. */
  def fingerprint(c: Column): Column = {
    val prime = lit(2147483647L) // 2^31 - 1
    // Spark's split keeps a trailing empty token on zero-width matches;
    // drop empties so the fold sees exactly the characters.
    val chars = filter(split(c, ""), ch => length(ch) > 0)
    aggregate(chars, lit(7L),
      (acc, ch) => pmod(acc * 31 + coalesce(ascii(ch), lit(0)), prime))
  }

  /** TF-IDF weights per (document, term): tf = raw term count in the doc,
    * df = number of docs containing the term, idf = ln((1+N)/(1+df)) + 1
    * (sklearn's smoothed form, so unseen-term idf stays finite and every
    * term scores > 0). Returns (id, term, tf, df, tfidf).
    *
    * Scale shape: ONE corpus scan — explode + per-(doc,term) hash agg, then
    * df as `count(*) over (partition by term)` on the (already small) tf
    * frame. The window formulation exists precisely so the corpus is not
    * scanned and exploded a second time for the doc-frequency side (the
    * groupBy+join form compiles to two full scans — measured in the round-4
    * plan audit). The corpus size N rides along as a broadcast one-row
    * cross join, keeping the builder fully lazy. */
  def tfIdf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val terms = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
    val tf = terms.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val wTerm = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    tf.withColumn("df", count(lit(1)).over(wTerm))
      .crossJoin(broadcast(nDocs))
      .select(col(idCol), col("term"), col("tf"), col("df"),
        round(col("tf") *
          (log((lit(1.0) + col("n_docs")) / (lit(1.0) + col("df"))) + 1.0), 6)
          .as("tfidf"))
  }

  /** BM25 relevance of every document against a literal query term set
    * (Robertson/Okapi with the Lucene idf form
    * `ln(1 + (N − df + 0.5)/(df + 0.5))`). Same one-scan shape as
    * [[tfIdf]]: one exploded pass pre-filtered to the query terms builds
    * tf; df comes from a window over that (already tiny) tf frame; corpus
    * N and avgdl ride along as a broadcast one-row frame. Docs matching
    * no query term keep a 0 score (corpus ranking needs the zeros).
    * Returns (id, bm25). */
  def bm25(df: DataFrame, idCol: String, textCol: String,
           query: Seq[String], k1: Double = 1.2,
           b: Double = 0.75): DataFrame = {
    val base = df.select(col(idCol), tokens(col(textCol)).as("__ts"))
    val dl = base.select(col(idCol), size(col("__ts")).cast("double").as("__dl"))
    val stats = base.agg(count(lit(1)).cast("double").as("__n"),
      avg(size(col("__ts"))).as("__avgdl"))
    val tf = base.select(col(idCol), explode(col("__ts")).as("term"))
      .filter(col("term").isin(query: _*))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).cast("double").as("__tf"))
    val wTerm = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
    val scored = tf
      .withColumn("__df", count(lit(1)).over(wTerm).cast("double"))
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .withColumn("__s",
        log(lit(1.0) + (col("__n") - col("__df") + 0.5) / (col("__df") + 0.5)) *
          col("__tf") * (k1 + 1) /
          (col("__tf") + (col("__dl") / col("__avgdl") * b + (1.0 - b)) * k1))
      .groupBy(col(idCol)).agg(sum(col("__s")).as("__sum"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        round(coalesce(col("__sum"), lit(0.0)), 6).as("bm25"))
  }

  /** Corpus-filter pattern counts per document (the C4/RefinedWeb-style
    * heuristics): URLs, emails, digit runs, plus the digit-character
    * ratio. Pure per-row regex expressions — linear, no shuffle. */
  def patternCounts(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val n = length(t)
    df.select(
      col(idCol),
      regexp_count(t, lit("https?://[^ ]+")).as("n_urls"),
      regexp_count(t, lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+")).as("n_emails"),
      regexp_count(t, lit("[0-9]+")).as("n_digit_runs"),
      when(n === 0, 0.0).otherwise(
        (n - length(regexp_replace(t, "[0-9]", ""))).cast("double") / n)
        .as("digit_ratio"))
  }

  /** PII-style pattern redaction (the C4/RefinedWeb cleaning step): URLs,
    * emails, then digit runs replaced with typed placeholders, in that
    * fixed order (emails before digits so an address's digits are already
    * gone; URLs first so their query strings don't half-match as emails).
    * Returns the redacted text's md5 and length rather than the text
    * itself — a full-content correctness witness at O(1) output width.
    * Pure per-row regex expressions: linear, no shuffle. */
  def redact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val clean = regexp_replace(
      regexp_replace(
        regexp_replace(col(textCol), "https?://[^ ]+", "<URL>"),
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
      "[0-9]+", "<NUM>")
    df.select(col(idCol), md5(clean).as("redacted_md5"),
      length(clean).cast("bigint").as("redacted_len"))
  }

  /** Concat-and-chunk sequence packing — the standard way LLM training
    * data is laid out: documents are concatenated in a deterministic order
    * (by `idCol` within each group) and sliced into fixed `seqLen`-token
    * training sequences; a document belongs to the bin where it starts.
    * Emits one row per (group, bin) with doc count, token mass, and the
    * doc-id range — the shuffle-ready packing manifest. The prefix sum is
    * a per-group window: parallelism = number of groups, so at 100 TB the
    * caller adds a hash-shard column to `groupCols` (packing is
    * shard-local by construction — sequences never need to cross shards),
    * making the window embarrassingly parallel. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    seqLen: Int, groupCols: Seq[String] = Nil): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    // Same contract as packSequenceIds (r16): an empty group list would
    // plan the prefix sum as a single-partition window.
    require(groupCols.nonEmpty,
      "packSequences: empty groupCols plans a single-partition window. " +
        "Add a shard column (packing is shard-local by construction) or " +
        "an explicit constant group column for small single-group runs.")
    val parts: Seq[Column] = groupCols.map(col)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(parts: _*)
      .orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val withBin = df
      .select(groupCols.map(col) :+ col(idCol) :+
        tokenCount(col(textCol)).cast("bigint").as("__nt"): _*)
      .withColumn("__start", coalesce(sum(col("__nt")).over(w), lit(0L)))
      .withColumn("bin", floor(col("__start") / seqLen).cast("bigint"))
    withBin.groupBy(groupCols.map(col) :+ col("bin"): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("total_tokens"),
        min(col(idCol)).as("first_doc"),
        max(col(idCol)).as("last_doc"))
  }

  /** Unigram log-probability score per document (the cheap LM-quality
    * proxy used by CCNet-style corpus filters): mean over the doc's tokens
    * of ln(corpusFreq(token) / totalTokens). More negative = rarer
    * vocabulary. Two aggregations over ONE exploded pass (the per-token
    * frame feeds both the vocabulary counts and the per-doc mean via a
    * window join on term); corpus total rides along as a broadcast one-row
    * frame. */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
    val wTerm = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
    val total = toks.agg(count(lit(1)).as("n_total"))
    toks.withColumn("c", count(lit(1)).over(wTerm))
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log(col("c").cast("double") / col("n_total"))), 6)
          .as("avg_logprob"))
  }

  /** Bigram LM log-probability per document — the next step up from
    * [[unigramLogProb]] toward CCNet's LM-perplexity corpus filter:
    * mean over the doc's bigrams of ln(c(w1,w2) / c(w1·)), with c(w1·)
    * counted as bigram-start occurrences so rows of the conditional
    * table sum to 1. MLE is safe (no smoothing needed) because the
    * corpus scores itself — every observed bigram has count ≥ 1. One
    * exploded bigram pass; both count tables via windows over it (two
    * shuffles — the standard exploded-token layout at any scale). Docs
    * with < 2 tokens keep score 0 / count 0. */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = df.select(col(idCol), tokens(col(textCol)).as("__ts"))
    val bgs = base.filter(size(col("__ts")) >= 2)
      .select(col(idCol),
        explode(Dedup.wordShinglesFromTokens(col("__ts"), 2)).as("b"))
      .withColumn("w1", element_at(split(col("b"), " "), 1))
    val wB = org.apache.spark.sql.expressions.Window.partitionBy(col("b"))
    val wW = org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))
    val scored = bgs
      .withColumn("cb", count(lit(1)).over(wB))
      .withColumn("cw", count(lit(1)).over(wW))
      .groupBy(col(idCol))
      .agg(round(avg(log(col("cb").cast("double") / col("cw"))), 6)
          .as("avg_bigram_logprob"),
        count(lit(1)).as("n_bigrams"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("avg_bigram_logprob"), lit(0.0)).as("avg_bigram_logprob"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"))
  }

  /** BPE merge learning — the tokenizer-training core loop (Sennrich et
    * al. 2016), at word granularity over the corpus: `iterations` rounds
    * of (count all adjacent token pairs → pick the most frequent, ties
    * by (left, right) ascending → merge every left-to-right
    * non-overlapping occurrence corpus-wide into one token). Returns the
    * learned merge table (step, l, r, cnt) — the merges.txt a BPE
    * trainer ships; a later step CAN merge a token produced by an
    * earlier one (the composition that makes BPE BPE — spec-pinned).
    *
    * The merge substrate is the double-spaced padded string form
    * (sentinel space + every separator doubled): one plain `replace` of
    * `" l  r "` with `" l<U+0001>r "` consumes one space from each
    * side's pair and restores it, so the padded form is CLOSED under the
    * merge — matches at adjacent positions can't shadow each other,
    * greedy left-to-right exactly like a BPE trainer, and the identical
    * `replace` call exists in any engine (no regex, no lookaround — the
    * oracle runs the same byte-level operation via `chr(1)`). Merged
    * token names are joined with U+0001, a control char no text corpus
    * token contains — a joiner the corpus CAN contain (r12 used `'_'`)
    * would let a pre-existing token collide with a merged token's name
    * and silently change later rounds' pair statistics. Tokens must not
    * contain `' '` (guaranteed by tokenization) or U+0001 (never
    * produced by text).
    *
    * Scale shape per iteration: one corpus scan → pair count (map-
    * combined agg on (l, r)) → a one-row sort-limit → the merge as a
    * broadcast of that one row into a per-row projection. No joins
    * between corpus-sized sides, no windows. The k-step composition
    * recomputes the state chain per step and the executed plan roughly
    * doubles per step (measured — see [[bpeMergesMaterialized]], the
    * checkpointing form a real 30 K-merge trainer needs); keep this form
    * to the fixed small k a query uses. Documents with fewer than 2
    * tokens contribute no pairs; if the corpus runs out of pairs the
    * table just ends early. */
  def bpeMerges(df: DataFrame, textCol: String,
                iterations: Int = 3): DataFrame = {
    require(iterations >= 1, s"bpeMerges: iterations=$iterations")
    val padded = df.select(concat(lit(" "),
      regexp_replace(Dedup.normalizeText(col(textCol)), " ", "  "),
      lit(" ")).as("__st"))
    def best(state: DataFrame): DataFrame =
      state.select(split(trim(col("__st")), " +").as("__ts"))
        .filter(size(col("__ts")) >= 2)
        .select(explode(Dedup.wordShinglesFromTokens(col("__ts"), 2)).as("g"))
        .select(element_at(split(col("g"), " "), 1).as("l"),
          element_at(split(col("g"), " "), 2).as("r"))
        .groupBy(col("l"), col("r")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r")).limit(1)
    var state = padded
    val steps = (1 to iterations).map { step =>
      val b = best(state)
      state = state.crossJoin(broadcast(b))
        .select(org.apache.spark.sql.functions.replace(col("__st"),
          concat(lit(" "), col("l"), lit("  "), col("r"), lit(" ")),
          concat(lit(" "), col("l"), lit("\u0001"), col("r"), lit(" ")))
          .as("__st"))
      b.select(lit(step.toLong).as("step"), col("l"), col("r"), col("cnt"))
    }
    steps.reduce(_.union(_)).orderBy(col("step"))
  }

  /** [[bpeMerges]] with per-iteration state materialization — the shape
    * a real multi-thousand-merge trainer needs. The recomputing form
    * above is ONE lazy Catalyst plan, but its step-k state subtree is
    * referenced TWICE (by step k+1's pair count AND inside step k+1's
    * state), so without whole-subtree reuse the executed plan roughly
    * DOUBLES per step — measured at sf1: 6.4 s at k=4, 15.2 s at k=8,
    * k=16 aborted at >5 min (BENCH_SF10.md r13 addendum). Fine at the
    * fixed k ≈ 3 a registry query uses, hopeless at a tokenizer's
    * k = 30 000. Here each iteration's merged corpus is
    * eagerly `localCheckpoint`ed (lineage cut, state held as executor
    * blocks; the k−1 generation is released through
    * `ColumnBridge.unpersistCheckpoint` as soon as generation k is
    * materialized, and the last one before returning, so at most TWO
    * corpus copies are ever live and none outlives the call), and
    * the best pair is a 1-row sort-limit collected to the driver (the
    * centroid-table bound) and folded into the replace as a literal —
    * same counts, same tiebreak, same greedy merge, spec-pinned equal to
    * [[bpeMerges]] on random corpora. Per-step cost is flat in k
    * (measured at k = 16 / 64, sf1 — BENCH_SF10.md r13 addendum); on a
    * cluster the same shape swaps localCheckpoint for a parquet
    * checkpoint dir to survive executor loss. */
  def bpeMergesMaterialized(df: DataFrame, textCol: String,
                            iterations: Int): DataFrame = {
    require(iterations >= 1, s"bpeMergesMaterialized: iterations=$iterations")
    val spark = df.sparkSession
    import spark.implicits._
    // Generation 0 is NOT checkpointed (r20, guide §5 materialize-once
    // economics): the padded corpus is a cheap projection over the
    // caller's input, and checkpointing it paid a full corpus block
    // write + read before any merge was learned. Leaving it lazy costs
    // one extra pass over the input (iteration 1's pair count AND its
    // replace both read the projection) — two cheap scans in place of a
    // corpus-sized materialization, one fewer job in every BPE row.
    // Generation 1+ checkpoints are unchanged (they are what keeps
    // per-step cost flat in k).
    var state = df.select(concat(lit(" "),
      regexp_replace(Dedup.normalizeText(col(textCol)), " ", "  "),
      lit(" ")).as("__st"))
    val steps = scala.collection.mutable.ListBuffer
      .empty[(Long, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= iterations && !exhausted) {
      val bestRow = state.select(split(trim(col("__st")), " +").as("__ts"))
        .filter(size(col("__ts")) >= 2)
        .select(explode(Dedup.wordShinglesFromTokens(col("__ts"), 2)).as("g"))
        .select(element_at(split(col("g"), " "), 1).as("l"),
          element_at(split(col("g"), " "), 2).as("r"))
        .groupBy(col("l"), col("r")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r")).limit(1)
        .collect().headOption
      bestRow match {
        case None => exhausted = true // corpus out of pairs: ends early
        case Some(row) =>
          val (l, r, cnt) =
            (row.getString(0), row.getString(1), row.getLong(2))
          val prev = state
          state = state
            .select(org.apache.spark.sql.functions.replace(col("__st"),
              lit(" " + l + "  " + r + " "),
              lit(" " + l + "\u0001" + r + " ")).as("__st"))
            .localCheckpoint()
          // generation 0 is the caller's lazy input: never release it
          if (step > 1) ColumnBridge.unpersistCheckpoint(prev)
          steps += ((step.toLong, l, r, cnt))
          step += 1
      }
    }
    if (step > 1) ColumnBridge.unpersistCheckpoint(state)
    steps.toSeq.toDF("step", "l", "r", "cnt")
  }

  /** BPE encode — the tokenizer-APPLY half of [[bpeMerges]]: rewrite
    * each document through a learned merge table in merge-rank order and
    * return the per-document token stream plus the counts a packing /
    * token-budget stage consumes. Output: (id, n_words, n_bpe_tokens,
    * n_merged_tokens, bpe_text); merged token names carry the U+0001
    * joiner (the [[bpeMerges]] naming contract), so the stream joins
    * directly against the learned merge table / vocabulary.
    *
    * Rank-order application IS BPE application: a merge learned at step
    * i consumes only symbols that existed at training step i, so once
    * steps 1..i−1 have been applied no later merge can create a fresh
    * occurrence of an earlier pair — applying the table as one ordered
    * pass equals iterative lowest-rank-first merging (the property that
    * lets real tokenizers stream merges.txt; spec-pinned against an
    * iterative min-rank reference on fuzz corpora, including tables
    * learned on one corpus and applied to another). That property holds
    * only for genuinely LEARNED tables, so [[validateMergeTable]] enforces
    * it at the API: a hand-built table whose compound operand has no
    * earlier defining entry is rejected loudly instead of silently
    * producing non-BPE output. The merge device is
    * the trainer's own double-spaced padded replace, so encoding the
    * training corpus reproduces the trainer's final state bit-for-bit.
    *
    * Scale shape: ONE projection over the corpus — the whole merge
    * table folds into a single codegen'd `aggregate` over an array
    * literal, so plan size is constant in k (no k-deep expression chain,
    * no joins, no shuffle; k replace passes per document inside one
    * generated loop). Cost is O(k · doc_len) per document — right for
    * the registry-scale k; at tokenizer-scale k (≳10⁴) the swap is a
    * per-word min-rank heap kernel behind a word-frequency cache, same
    * output contract. The merge table is driver-resident by construction
    * (k rows, two short strings each). */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)]): DataFrame = {
    validateMergeTable(merges, "bpeEncode")
    val norm = Dedup.normalizeText(col(textCol))
    val padded = concat(lit(" "),
      regexp_replace(norm, " ", "  "), lit(" "))
    val enc =
      if (merges.isEmpty) padded
      else aggregate(
        typedLit(merges.map { case (l, r) =>
          (" " + l + "  " + r + " ", " " + l + "\u0001" + r + " ")
        }),
        padded,
        (acc, m) => org.apache.spark.sql.functions.replace(
          acc, m.getField("_1"), m.getField("_2")))
    val toks = filter(split(trim(enc), " +"), t => length(t) > 0)
    val words = filter(split(norm, " "), w => length(w) > 0)
    df.select(col(idCol),
      size(words).cast("long").as("n_words"),
      size(toks).cast("long").as("n_bpe_tokens"),
      size(filter(toks, t => t.contains("\u0001"))).cast("long")
        .as("n_merged_tokens"),
      array_join(toks, " ").as("bpe_text"))
  }

  /** Learn-then-encode convenience: [[bpeMergesMaterialized]] (the flat
    * per-step trainer) for `iterations` merges, table collected to the
    * driver (k rows — bounded by construction), then [[bpeEncode]] in
    * one corpus projection. The full tokenizer-training loop a corpus
    * pipeline ships: learn merges.txt, encode the corpus with it. */
  def bpeLearnEncode(df: DataFrame, idCol: String, textCol: String,
                     iterations: Int): DataFrame = {
    val table = bpeMergesMaterialized(df, textCol, iterations)
      .orderBy(col("step")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    bpeEncode(df, idCol, textCol, table)
  }

  /** BPE decode — the inverse of [[bpeEncode]]/[[bpeEncodeIndexed]]'s
    * `bpe_text`: every U+0001 joiner becomes a space, restoring the
    * normalized text. BPE merging is lossless by construction (a merge
    * only re-labels a space as a joiner; no character is created or
    * destroyed), so `bpeDecode(encode(x)) == normalizeText(x)` for ANY
    * valid table — the round-trip property a tokenizer ships with,
    * spec-pinned on fuzz corpora in DedupTextSpec. One codegen'd
    * `translate` per row: zero shuffles, zero joins. */
  def bpeDecode(bpeText: Column): Column =
    translate(bpeText, "\u0001", " ")

  /** Merge-table validity check (the learned-table contract both encode
    * forms rely on): every operand of entry i is either a base token (no
    * U+0001) or the U+0001-join of an EARLIER entry. Tables produced by
    * [[bpeMerges]]/[[bpeMergesMaterialized]]/[[topPairTable]] satisfy this
    * by construction; a hand-built out-of-order table would make "one
    * ordered pass ≡ iterative lowest-rank-first merging" silently false,
    * so it fails loudly here instead. O(k) driver-side — the table is
    * driver-resident by construction. */
  def validateMergeTable(merges: Seq[(String, String)], fn: String): Unit = {
    val defined = scala.collection.mutable.HashSet.empty[String]
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      require(l.nonEmpty && r.nonEmpty && !l.contains(" ") && !r.contains(" "),
        s"$fn: merge operands must be non-empty space-free tokens, " +
          s"got ('$l','$r')")
      Seq(l, r).foreach { op =>
        require(!op.contains("\u0001") || defined.contains(op),
          s"$fn: entry ${i + 1} operand '${op.replace("\u0001", "+")}' is a " +
            "merged name with no EARLIER defining entry — rank-order " +
            "application equals BPE only for learned tables (step-i " +
            "operands must exist at step i)")
      }
      defined += (l + "\u0001" + r)
    }
  }

  /** [[bpeEncode]] at tokenizer-scale merge counts — identical output
    * contract (same columns, same values; differentially spec-pinned and
    * oracle-checked at k=256 via `t_bpe_encode_scaled`), different apply
    * kernel: instead of k sequential whole-string replace passes
    * (O(k·len) per document — 30 000 scans per doc at real-tokenizer k),
    * the merge table is indexed into a rank map once and each document is
    * encoded by the standard lowest-rank-first loop
    * ([[graft.functions.expr.BpeMergeKernel]]): O(applied·len) where
    * `applied` is the number of merges that actually FIRE in the document,
    * independent of table size. Still ONE codegen'd projection over the
    * corpus — no joins, no shuffle, constant plan/generated-code size in k
    * (the kernel rides a reference object, not an expression chain).
    *
    * Why not the per-distinct-WORD cache real subword tokenizers use: this
    * operator's merges are WORD-granularity (operands are whole corpus
    * words; a merge joins adjacent words across the corpus), so there is
    * no intra-word unit to cache — the cacheable unit is the whole
    * document, and identical documents are exactly what the upstream
    * exact-dedup stage already collapses. The rank-indexed kernel is the
    * lever that remains, and it is the same one merges.txt encoders use. */
  def bpeEncodeIndexed(df: DataFrame, idCol: String, textCol: String,
                       merges: Seq[(String, String)]): DataFrame = {
    validateMergeTable(merges, "bpeEncodeIndexed")
    val norm = Dedup.normalizeText(col(textCol))
    val toks = ColumnBridge.column(graft.functions.expr.BpeApplyMerges(
      ColumnBridge.expression(norm), merges))
    // Two projections on purpose: __toks is referenced three times below,
    // and CollapseProject keeps the expensive kernel un-duplicated (it only
    // inlines cheap expressions into multiple consumers).
    df.select(col(idCol), norm.as("__norm"), toks.as("__toks"))
      .select(col(idCol),
        size(filter(split(col("__norm"), " "), w => length(w) > 0))
          .cast("long").as("n_words"),
        size(col("__toks")).cast("long").as("n_bpe_tokens"),
        size(filter(col("__toks"), t => t.contains("\u0001"))).cast("long")
          .as("n_merged_tokens"),
        array_join(col("__toks"), " ").as("bpe_text"))
  }

  /** The encoded-token-array column both id-encode halves share: BPE
    * tokens through `merges` (empty table = plain whitespace tokens). */
  private def bpeToksCol(textCol: String,
                         merges: Seq[(String, String)]): Column = {
    val norm = Dedup.normalizeText(col(textCol))
    if (merges.isEmpty) filter(split(norm, " "), t => length(t) > 0)
    else ColumnBridge.column(graft.functions.expr.BpeApplyMerges(
      ColumnBridge.expression(norm), merges))
  }

  /** Fail-loud contract on a FROZEN vocab table (the [[validateMergeTable]]
    * convention, ADVICE r15): a hand-shipped table with duplicate tokens
    * or duplicate/non-positive ids would silently lose entries in the
    * `.toMap` fold and encode/decode WRONG — malformed artifacts must be
    * a builder error, not a wrong answer. Id 0 is reserved for OOV. */
  private[graft] def validateVocabTable(vocab: Seq[(String, Int)],
                                        caller: String): Unit = {
    val dupTok = vocab.groupBy(_._1).collectFirst {
      case (t, vs) if vs.size > 1 => t
    }
    require(dupTok.isEmpty,
      s"$caller: duplicate token '${dupTok.getOrElse("")}' in vocab table " +
        "— .toMap would silently keep one id and drop the rest")
    val dupId = vocab.groupBy(_._2).collectFirst {
      case (i, vs) if vs.size > 1 => i
    }
    require(dupId.isEmpty,
      s"$caller: duplicate id ${dupId.getOrElse(-1)} in vocab table " +
        "— decode would silently pick one token")
    val badId = vocab.collectFirst { case (t, i) if i <= 0 => (t, i) }
    require(badId.isEmpty,
      s"$caller: non-positive id ${badId.map(_._2).getOrElse(0)} for token " +
        s"'${badId.map(_._1).getOrElse("")}' — id 0 is reserved for OOV")
  }

  /** The vocabulary artifact [[bpeEncodeIds]] derives — (token, id) pairs,
    * ids 1..V in (count desc, token asc) rank order over the ENCODED token
    * stream, id 0 reserved for OOV. A trainer ships this table next to the
    * id arrays; [[decodeTokenIds]] inverts with it. Driver-resident by
    * construction (V rows — the centroid-table bound). */
  def bpeVocabIds(df: DataFrame, textCol: String,
                  merges: Seq[(String, String)],
                  vocabSize: Int): Seq[(String, Int)] = {
    validateMergeTable(merges, "bpeVocabIds")
    require(vocabSize > 0, s"bpeVocabIds: vocabSize=$vocabSize")
    df.select(explode(bpeToksCol(textCol, merges)).as("__t"))
      .groupBy(col("__t")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__t")).limit(vocabSize)
      .collect().zipWithIndex
      .map { case (r, i) => (r.getString(0), i + 1) }.toSeq
  }

  /** Inverse of [[bpeEncodeIds]] given its [[bpeVocabIds]] table: id
    * arrays back to text — id 0 (and any id outside the table) decodes to
    * `unkToken`, merged-token joiners decode back to spaces
    * ([[bpeDecode]]). One map-literal projection, no shuffle; closes the
    * trainer-handoff loop (decode∘encode ≡ the vocab-truncated normalized
    * text — spec-pinned against [[unkRewrite]]). */
  def decodeTokenIds(ids: Column, vocab: Seq[(String, Int)],
                     unkToken: String = "<unk>"): Column = {
    validateVocabTable(vocab, "decodeTokenIds")
    val m = typedLit(vocab.map { case (t, i) => (i, t) }.toMap)
    bpeDecode(array_join(transform(ids,
      i => coalesce(element_at(m, i), lit(unkToken))), " "))
  }

  /** Token-ID encode — the trainer handoff format (the analog of the
    * reference's id-encoding before training, `src/data/movielens.py:299-303`:
    * every entity is mapped to a dense int id before tensors are built).
    * BPE-encodes each document through `merges` (empty table = plain
    * whitespace tokens), assigns DENSE INT IDS from a deterministic
    * vocabulary — the top `vocabSize` encoded tokens by (count desc, token
    * asc), the heavy-hitters tiebreak, ids 1..V in rank order with id 0
    * reserved for OOV — and emits `ArrayType(Int)` id sequences:
    * (id, n_tokens, n_unk, token_ids). A trainer consumes ids, not text;
    * this is the step between [[bpeEncodeIndexed]]'s token streams and
    * [[packSequenceIds]]'s fixed-length training sequences.
    *
    * Scale shape: vocab selection is one encode pass → map-combined token
    * count → V-row sort-limit collected to the driver (the centroid-table
    * bound — V is a tokenizer vocab, ≤ ~10⁵); the id assignment is then a
    * MAP LITERAL folded into ONE codegen'd projection (`element_at` per
    * token, OOV → 0) — no shuffle, no join on the encode side at all. The
    * BPE kernel runs twice (vocab pass + encode pass) by design: two linear
    * scans beat materializing a corpus-sized token copy between them. */
  def bpeEncodeIds(df: DataFrame, idCol: String, textCol: String,
                   merges: Seq[(String, String)],
                   vocabSize: Int): DataFrame = {
    require(vocabSize > 0, s"bpeEncodeIds: vocabSize=$vocabSize")
    bpeEncodeIdsWithVocab(df, idCol, textCol, merges,
      bpeVocabIds(df, textCol, merges, vocabSize))
  }

  /** [[bpeEncodeIds]] with a FROZEN tokenizer (merges + vocab learned
    * offline and shipped) — the form a production ingest actually runs:
    * real pipelines freeze the tokenizer before new data flows, so the
    * encode is ONE stateless map-literal projection with no corpus pass
    * at all. Stateless means streaming-compatible as-is: apply it to a
    * `readStream` frame and it encodes each micro-batch with zero state
    * (StreamingSpec pins stream ≡ batch). */
  def bpeEncodeIdsWithVocab(df: DataFrame, idCol: String, textCol: String,
                            merges: Seq[(String, String)],
                            vocab: Seq[(String, Int)]): DataFrame = {
    validateMergeTable(merges, "bpeEncodeIdsWithVocab")
    validateVocabTable(vocab, "bpeEncodeIdsWithVocab")
    val enc = df.select(col(idCol), bpeToksCol(textCol, merges).as("__toks"))
    val m = typedLit(vocab.toMap)
    // Two projections on purpose (the bpeEncodeIndexed device): token_ids
    // is referenced twice below and CollapseProject would otherwise inline
    // the transform into both consumers.
    enc.select(col(idCol),
        transform(col("__toks"),
          t => coalesce(element_at(m, t), lit(0))).as("token_ids"))
      .select(col(idCol),
        size(col("token_ids")).cast("long").as("n_tokens"),
        size(filter(col("token_ids"), i => i === 0)).cast("long").as("n_unk"),
        col("token_ids"))
  }

  /** Learn-then-id-encode convenience — the full tokenizer-training handoff
    * a corpus pipeline ships: learn `iterations` merges with the flat
    * per-step trainer ([[bpeMergesMaterialized]]), then [[bpeEncodeIds]]
    * with a `vocabSize` vocabulary. */
  def bpeLearnEncodeIds(df: DataFrame, idCol: String, textCol: String,
                        iterations: Int, vocabSize: Int): DataFrame = {
    // BOUNDED collect, RUNTIME-ENFORCED (r20, VERDICT r19 #9): ≤
    // iterations rows (the merge table) — asserted, not just stated.
    val rows = bpeMergesMaterialized(df, textCol, iterations)
      .orderBy(col("step")).collect()
    require(rows.length <= iterations,
      s"bpeLearnEncodeIds: merge table has ${rows.length} rows > " +
        s"iterations=$iterations — bpeMergesMaterialized contract broken")
    val table = rows.map(r => (r.getString(1), r.getString(2))).toSeq
    bpeEncodeIds(df, idCol, textCol, table, vocabSize)
  }

  /** Fixed-length training-sequence packing over TOKEN-ID arrays — the
    * id-level successor to [[packSequences]]' manifest: documents are
    * concatenated in `idCol` order within each group and sliced into
    * exactly-`seqLen` id sequences (a document spanning a boundary is
    * split), the final partial sequence is padded with `padId`. Emits one
    * row per (group, seq_idx) with the tensors a trainer consumes:
    * `input_ids` (always `seqLen` ints), `loss_mask` (1 = real token,
    * 0 = padding — the loss is masked at pad positions), `doc_starts`
    * (offsets in [0, seqLen) where a document begins — the attention-reset
    * boundaries concat-packing needs), plus n_real / n_doc_starts.
    * Zero-length id arrays contribute nothing (and cannot host a start).
    *
    * Scale shape: the per-group prefix sum is a window ordered by `idCol`
    * — parallelism = number of groups, so at 100 TB the caller adds a
    * hash-shard column to `groupCols` (packing is shard-local by
    * construction, sequences never cross shards) and the window is
    * embarrassingly parallel. Then ONE shuffle keyed on (group, seq_idx)
    * of FRAGMENT rows, not token rows: a document contributes one row per
    * sequence it spans (⌈nt/seqLen⌉+1 worst case), each carrying the
    * array SLICE that lands in that sequence — the same ids move, but as
    * packed arrays instead of one row per token (the r15 rewrite: the
    * token-level form paid per-row shuffle/sort overhead up to seqLen×
    * the fragment count; measured 35.5 → 23.4 s at sf10 on
    * x9b_pack_ids, hashes unchanged on all three packing rows). Every
    * reduce group is ≤ seqLen ids across ≤ seqLen fragments, so the
    * collect stays bounded and skew-free no matter how large any
    * document is. */
  def packSequenceIds(df: DataFrame, idCol: String, idsCol: String,
                      seqLen: Int, padId: Int = 0,
                      groupCols: Seq[String] = Nil): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    // Empty groupCols would plan the prefix sum as a SINGLE-PARTITION
    // window — the one shape the library's globalRowNumber device exists
    // to prevent (VERDICT r15 #4). Fail loudly instead of planning it:
    // shard first (x9c_pack_ids_sharded's pattern —
    // `withColumn("shard", pmod(col(id), lit(n)))`, packing is
    // shard-local by construction) or pass an explicit constant column
    // to opt into single-group packing on deliberately small data.
    require(groupCols.nonEmpty,
      "packSequenceIds: empty groupCols plans a single-partition window. " +
        "Add a shard column (e.g. withColumn(\"shard\", pmod(col(\"" +
        idCol + "\"), lit(nShards))) — the x9c_pack_ids_sharded pattern) " +
        "or an explicit constant group column for small single-group runs.")
    val parts: Seq[Column] = groupCols.map(col)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(parts: _*)
      .orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val L = seqLen.toLong
    // Deterministic-replay contract: the pack order within a group is
    // `idCol` ASC, so a duplicate id within a group makes the prefix sum
    // and the sequence contents run-order-dependent (ADVICE r15). Guarded
    // with the suite's plan-level fail-loud device — a limit(1)-gated
    // 0-row broadcast frame + assert on the first data row, no extra job.
    val dupe = df
      .groupBy(groupCols.map(col) :+ col(idCol): _*)
      .agg(count(lit(1)).as("__c")).filter(col("__c") > 1)
      .limit(1)
      .select(concat(lit("packSequenceIds: duplicate " + idCol + " "),
        col(idCol),
        lit(" within a group — pack order (idCol ASC per group) must be " +
          "a total order for deterministic replay; dedupe or disambiguate " +
          "the id upstream.")).as("__guard"))
    val base = df
      .select(groupCols.map(col) :+ col(idCol) :+ col(idsCol).as("__ids"): _*)
      .join(broadcast(dupe), lit(true), "left")
      .filter(assert_true(col("__guard").isNull, col("__guard")).isNull)
      .drop("__guard")
      .withColumn("__nt", size(col("__ids")).cast("long"))
      .filter(col("__nt") > 0)
      .withColumn("__start", coalesce(sum(col("__nt")).over(w), lit(0L)))
    // One row per (doc, spanned sequence); __from/__to are the 0-based
    // half-open index range of the doc's ids that land in that sequence,
    // __sp the fragment's offset inside the sequence. Fragments tile each
    // sequence without overlap, so __sp is unique per reduce group and
    // sorting by it reassembles the exact token order.
    val frags = base
      .select(groupCols.map(col) :+ col("__start") :+ col("__nt") :+
        col("__ids") :+
        explode(sequence(floor(col("__start") / L),
          floor((col("__start") + col("__nt") - 1) / L))).as("seq_idx"): _*)
      .withColumn("__from",
        greatest(col("seq_idx") * L - col("__start"), lit(0L)))
      .withColumn("__to",
        least(col("__nt"), (col("seq_idx") + 1) * L - col("__start")))
      .select(groupCols.map(col) :+ col("seq_idx").cast("bigint").as("seq_idx") :+
        (col("__start") + col("__from") - col("seq_idx") * L).cast("int")
          .as("__sp") :+
        slice(col("__ids"), (col("__from") + 1).cast("int"),
          (col("__to") - col("__from")).cast("int")).as("__frag") :+
        (col("__from") === 0L).as("__isstart"): _*)
    frags.groupBy(groupCols.map(col) :+ col("seq_idx"): _*)
      .agg(
        flatten(transform(
          array_sort(collect_list(struct(col("__sp"), col("__frag")))),
          x => x.getField("__frag"))).as("__real"),
        array_sort(collect_list(when(col("__isstart"), col("__sp"))))
          .as("doc_starts"),
        sum(when(col("__isstart"), 1L).otherwise(0L)).as("n_doc_starts"))
      .select(groupCols.map(col) :+ col("seq_idx") :+
        concat(col("__real"), array_repeat(lit(padId),
          (lit(seqLen) - size(col("__real"))).cast("int"))).as("input_ids") :+
        concat(array_repeat(lit(1), size(col("__real"))),
          array_repeat(lit(0),
            (lit(seqLen) - size(col("__real"))).cast("int"))).as("loss_mask") :+
        size(col("__real")).cast("long").as("n_real") :+
        col("n_doc_starts") :+ col("doc_starts"): _*)
  }

  /** Split an id array into whole chunks of ≤ `chunk` ids — the pre-chunk
    * step [[packDocsNoSplit]]'s overflow error prescribes (chunkDocs'
    * arithmetic, over an already-encoded id array instead of text).
    * Always ≥ 1 chunk: an empty input yields one empty chunk (which the
    * packer's len>0 filter then drops, the packSequenceIds contract). */
  def chunkIdArray(ids: Column, chunk: Int): Column = {
    require(chunk > 0, s"chunkIdArray: chunk=$chunk")
    val n = org.apache.spark.sql.functions.size(ids)
    val lastIdx = greatest(
      floor((n - 1).cast("double") / chunk).cast("int"), lit(0))
    transform(sequence(lit(0), lastIdx),
      i => slice(ids, (i * chunk + 1).cast("int"), lit(chunk)))
  }

  /** Count-space best-fit-decreasing over a LENGTH HISTOGRAM — the
    * histogram-packing idea of Krell et al. 2021 ("Efficient Sequence
    * Packing without Cross-contamination"): the solver never sees
    * documents, only (length → count), so driver work is O(lengths ·
    * bin-types) with Long counts — independent of corpus size. Returns
    * the FINAL bin compositions ((len → docs-per-bin) sorted len desc,
    * canonical order) with bin counts; sum of every composition ≤ `cap`.
    *
    * The batch moves are exact per-document BFD: the chosen composition
    * has the MINIMUM remaining ≥ len, stuffing one instance keeps it the
    * minimum until it no longer fits (remaining < len), and its sibling
    * instances (identical remaining) are then precisely the next-best —
    * so filling `perInst = ⌊remaining/len⌋` docs into each instance in
    * turn replays the one-at-a-time algorithm. Pinned by the
    * differential spec against a naive per-doc simulation. */
  private[graft] def bfdHistogramPack(hist: Seq[(Int, Long)], cap: Int)
      : Seq[(List[(Int, Long)], Long)] = {
    type Comp = List[(Int, Long)]
    def rem(c: Comp): Long =
      cap.toLong - c.iterator.map { case (l, k) => l.toLong * k }.sum
    def orderKey(c: Comp): String =
      c.map { case (l, k) => f"$l%08d:$k%016d" }.mkString(",")
    def add(c: Comp, len: Int, q: Long): Comp =
      if (c.exists(_._1 == len))
        c.map { case (l, k) => if (l == len) (l, k + q) else (l, k) }
      else (c :+ (len, q)).sortBy(-_._1)
    val types = scala.collection.mutable.Map[Comp, Long]()
    def inc(c: Comp, n: Long): Unit = {
      val v = types.getOrElse(c, 0L) + n
      require(v >= 0L, s"bfdHistogramPack: negative type count for $c")
      if (v == 0L) types.remove(c) else types(c) = v
    }
    hist.sortBy { case (l, _) => -l }.foreach { case (len, n0) =>
      require(len >= 1 && len <= cap,
        s"bfdHistogramPack: length $len outside (0, $cap]")
      var n = n0
      while (n > 0) {
        val fits = types.iterator
          .filter { case (c, k) => k > 0 && rem(c) >= len }.toSeq
        if (fits.isEmpty) {
          // fresh bins: BFD stuffs each until the next doc no longer fits
          val q = math.min(n, cap.toLong / len)
          val full = n / q
          if (full > 0) { inc(List((len, q)), full); n -= full * q }
          if (n > 0) { inc(List((len, n)), 1L); n = 0 }
        } else {
          val (best, avail) =
            fits.minBy { case (c, _) => (rem(c), orderKey(c)) }
          val perInst = math.min(rem(best) / len, n)
          val instFull = math.min(n / perInst, avail)
          if (instFull > 0) {
            inc(best, -instFull)
            inc(add(best, len, perInst), instFull)
            n -= instFull * perInst
          }
          if (n > 0 && avail - instFull > 0) {
            // one partial instance takes the tail (n < perInst here)
            inc(best, -1L)
            inc(add(best, len, n), 1L)
            n = 0
          }
        }
      }
    }
    types.toSeq.sortBy { case (c, _) => orderKey(c) }
  }

  /** Render [[bfdHistogramPack]] solutions as the no-split SLOT TABLE —
    * one row per (group, length-class slice of a bin type):
    * (groupVals, len, cumStart, nSlots, docsPerBin, binBase, offsetBase).
    * A doc ranked `o` within its (group, len) class lands in slot row m
    * with cum ≤ o < cum + nSlots, at bin = binBase + (o − cum) div k and
    * byte offset offsetBase + ((o − cum) mod k) · len — the pure
    * arithmetic that realizes the driver solve distributively. Shared by
    * [[packDocsNoSplit]] (broadcast join realization) and the x9e
    * DYNAMIC ORACLE (the same table rendered as a DuckDB VALUES literal,
    * so the oracle replays rank → slot join → assembly independently
    * and only the solve itself stays spec-gated). Input groups must
    * already be in the canonical (sorted) order — bin ids are assigned
    * in iteration order within each group. */
  private[graft] def noSplitSlotRows(
      hists: Seq[(Seq[Any], Seq[(Int, Long)])], seqLen: Int)
      : Seq[(Seq[Any], Int, Long, Long, Long, Long, Long)] =
    hists.flatMap { case (gvals, hist) =>
      val solved = bfdHistogramPack(hist, seqLen)
      var binBase = 0L
      val cumByLen = scala.collection.mutable.Map[Int, Long]()
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Seq[Any], Int, Long, Long, Long, Long, Long)]
      solved.foreach { case (comp, cnt) =>
        var off = 0L
        comp.foreach { case (len, k) =>
          val cum = cumByLen.getOrElse(len, 0L)
          out += ((gvals, len, cum, cnt * k, k, binBase, off))
          cumByLen(len) = cum + cnt * k
          off += len.toLong * k
        }
        binBase += cnt
      }
      out
    }

  /** Fixed-capacity training-sequence packing WITHOUT document splitting —
    * the SFT-style handoff [[packSequenceIds]] cannot express (its
    * concat-split form cuts documents at sequence boundaries; instruction
    * tuning and any per-document-loss training need whole documents per
    * bin). Bin assignment is the Krell et al. 2021 histogram method:
    * BFD solved ON THE (group, length) HISTOGRAM at the driver
    * ([[bfdHistogramPack]] — bounded by `maxHistRows`, loud failure
    * beyond), then realized distributively: docs are ranked within their
    * (group, length) class by md5-of-id (content-pure, deterministic —
    * equal-length docs are interchangeable for capacity so the class
    * order is free), and a broadcast (group, len, type) slot table maps
    * each rank to (bin, offset) with pure arithmetic — no per-document
    * driver state, no sequential scan. One shuffle ranks the docs, one
    * reduce keyed (group, bin) assembles sequences; parallelism =
    * length-classes and bins, not groups.
    *
    * Docs longer than `seqLen` are a loud error (pre-chunk with
    * [[chunkDocs]] or switch to [[packSequenceIds]]); zero-length id
    * arrays contribute nothing (the packSequenceIds contract). Output:
    * one row per (group, bin_id) with `input_ids` (padded to seqLen),
    * `loss_mask`, `doc_starts`, `doc_ids` (offset order), n_real,
    * n_docs. */
  def packDocsNoSplit(df: DataFrame, idCol: String, idsCol: String,
                      seqLen: Int, padId: Int = 0,
                      groupCols: Seq[String] = Nil,
                      maxHistRows: Int = 100000): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    require(groupCols.nonEmpty,
      "packDocsNoSplit: empty groupCols makes the histogram collect and " +
        "the rank windows a single global partition. Add a shard column " +
        "(the x9c_pack_ids_sharded pattern) or an explicit constant " +
        "group column for small single-group runs.")
    val spark = df.sparkSession
    val parts: Seq[Column] = groupCols.map(col)
    val nG = groupCols.length
    // duplicate-id guard — the packSequenceIds deterministic-replay device
    val dupe = df
      .groupBy(groupCols.map(col) :+ col(idCol): _*)
      .agg(count(lit(1)).as("__c")).filter(col("__c") > 1)
      .limit(1)
      .select(concat(lit("packDocsNoSplit: duplicate " + idCol + " "),
        col(idCol),
        lit(" within a group — the md5 rank must be a total order for " +
          "deterministic replay; dedupe or disambiguate upstream."))
        .as("__guard"))
    val base = df
      .select(parts :+ col(idCol) :+ col(idsCol).as("__ids"): _*)
      .join(broadcast(dupe), lit(true), "left")
      .filter(assert_true(col("__guard").isNull, col("__guard")).isNull)
      .drop("__guard")
      // NULL-group guard: the histogram/rank treat NULL as its own group
      // but the slot-table equi-join never matches NULL keys — those docs
      // would VANISH, silently breaking exact-once. Loud, like the
      // duplicate-id guard above (row-level, no extra pass).
      .filter(assert_true(
        groupCols.map(c => col(c).isNotNull).reduce(_ && _),
        lit("packDocsNoSplit: NULL group value — the slot-table equi-" +
          "join drops NULL keys; fill or filter group columns upstream."))
        .isNull)
      .withColumn("__len", org.apache.spark.sql.functions.size(col("__ids")))
      .filter(col("__len") > 0)
    val histRows = base.groupBy(parts :+ col("__len"): _*)
      .agg(count(lit(1)).as("__n"))
      .limit(maxHistRows + 1).collect()
    require(histRows.length <= maxHistRows,
      s"packDocsNoSplit: (group, len) histogram exceeds $maxHistRows " +
        "rows — the driver solve is bounded by it; shard more coarsely " +
        "or raise maxHistRows.")
    val over = histRows.filter(_.getInt(nG) > seqLen)
    require(over.isEmpty, {
      val worst = if (over.isEmpty) 0 else over.map(_.getInt(nG)).max
      s"packDocsNoSplit: documents longer than seqLen=$seqLen exist " +
        s"(max $worst) and cannot pack without splitting — pre-chunk " +
        "(chunkDocs) or use packSequenceIds."
    })
    // per-group BFD solve → broadcastable slot table:
    // (group…, len, cumStart, nSlots, docsPerBin, binBase, offsetBase)
    val mappingRows = noSplitSlotRows(
      histRows.groupBy(r => (0 until nG).map(r.get(_)))
        .toSeq.sortBy(_._1.mkString(""))
        .map { case (gvals, rows) =>
          (gvals, rows.map(r => (r.getInt(nG), r.getLong(nG + 1))).toSeq)
        }, seqLen)
      .map { case (gvals, len, cum, nslots, k, binBase, off) =>
        // Seq[Any], NOT Seq(len, cum...): a mixed Int/Long Seq literal
        // infers Seq[Long] and silently widens len -- the IntegerType
        // slot then holds a boxed Long and the local-relation filter
        // CCEs at plan time.
        org.apache.spark.sql.Row.fromSeq(
          gvals ++ Seq[Any](len, cum, nslots, k, binBase, off))
      }
    val mapSchema = org.apache.spark.sql.types.StructType(
      base.schema.fields.take(nG) ++ Seq(
        org.apache.spark.sql.types.StructField("__len",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("__cum",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("__nslots",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("__k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("__binbase",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("__offbase",
          org.apache.spark.sql.types.LongType)))
    import scala.jdk.CollectionConverters._
    val mapping = spark.createDataFrame(mappingRows.asJava, mapSchema)
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(parts :+ col("__len"): _*)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    val joined = base
      .withColumn("__o", row_number().over(wRank).cast("long") - 1)
      .join(broadcast(mapping), groupCols :+ "__len")
      .filter(col("__o") >= col("__cum") &&
        col("__o") < col("__cum") + col("__nslots"))
      .withColumn("__rel", col("__o") - col("__cum"))
      .withColumn("bin_id", col("__binbase") + expr("__rel div __k"))
      .withColumn("__sp",
        (col("__offbase") + pmod(col("__rel"), col("__k")) * col("__len"))
          .cast("int"))
    joined.groupBy(parts :+ col("bin_id"): _*)
      .agg(
        flatten(transform(
          array_sort(collect_list(struct(col("__sp"), col("__ids")))),
          x => x.getField("__ids"))).as("__real"),
        array_sort(collect_list(col("__sp"))).as("doc_starts"),
        transform(
          array_sort(collect_list(struct(col("__sp"),
            col(idCol).as("__did")))),
          x => x.getField("__did")).as("doc_ids"),
        count(lit(1)).as("n_docs"))
      .select(parts :+ col("bin_id") :+
        concat(col("__real"), array_repeat(lit(padId),
          (lit(seqLen) - org.apache.spark.sql.functions.size(col("__real")))
            .cast("int"))).as("input_ids") :+
        concat(
          array_repeat(lit(1),
            org.apache.spark.sql.functions.size(col("__real"))),
          array_repeat(lit(0),
            (lit(seqLen) - org.apache.spark.sql.functions.size(col("__real")))
              .cast("int"))).as("loss_mask") :+
        org.apache.spark.sql.functions.size(col("__real")).cast("long")
          .as("n_real") :+
        col("n_docs") :+ col("doc_starts") :+ col("doc_ids"): _*)
  }

  /** One-pass top-k adjacent-pair table over the BASE corpus — the cheap
    * valid-table source for encode-path scale tests and for phrase-style
    * vocabularies that don't need the trainer's re-count-after-each-merge
    * semantics. Ranked by (count desc, l, r) — the trainer's tiebreak.
    * All operands are base corpus words (no U+0001), so the table
    * trivially satisfies [[validateMergeTable]] and ANY application order
    * is a valid BPE apply. One corpus scan, one map-combined aggregation,
    * a k-row sort-limit collected to the driver (the centroid-table
    * bound). */
  def topPairTable(df: DataFrame, textCol: String,
                   k: Int): Seq[(String, String)] = {
    require(k >= 1, s"topPairTable: k=$k")
    df.select(split(Dedup.normalizeText(col(textCol)), " ").as("__ts"))
      .filter(size(col("__ts")) >= 2)
      .select(explode(Dedup.wordShinglesFromTokens(col("__ts"), 2)).as("g"))
      .select(element_at(split(col("g"), " "), 1).as("l"),
        element_at(split(col("g"), " "), 2).as("r"))
      .groupBy(col("l"), col("r")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("l"), col("r")).limit(k)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
  }

  /** Vocabulary truncation — the rewrite between vocab selection and
    * training: every token outside the top-`vocabSize` corpus vocabulary
    * (by count, ties broken by term ascending — the heavy-hitters
    * tiebreak) becomes `unkToken`, and each document is re-emitted with
    * its rewritten text and OOV count. Output: (id, n_tokens, n_unk,
    * unk_text).
    *
    * Scale shape: one tokenize+explode (linear in corpus tokens), the
    * vocab as a count agg + top-V sort-limit (V rows — broadcast-sized by
    * construction), membership as a broadcast left join, reassembly as
    * one per-document aggregation ordered by token position. No
    * corpus-sized join sides, no windows. At open-vocab scale the exact
    * top-V count feeding this swaps for the Misra-Gries heavy hitters —
    * [[unkRewriteMG]], same contract, O(capacity) state. */
  def unkRewrite(df: DataFrame, idCol: String, textCol: String,
                 vocabSize: Int, unkToken: String = "<unk>"): DataFrame = {
    require(vocabSize > 0, s"unkRewrite: vocabSize=$vocabSize")
    val toks = posTokens(df, idCol, textCol)
    val vocab = toks.groupBy(col("__tok")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__tok")).limit(vocabSize)
      .select(col("__tok"))
    rewriteWithVocab(toks, vocab, idCol, unkToken)
  }

  /** [[unkRewrite]] with the vocabulary selected through the Misra-Gries
    * heavy-hitters sketch ([[graft.functions.expr.HeavyHittersAgg]]) —
    * the open-vocab scale path: the exact form's top-V needs a full
    * (term, count) aggregation whose shuffle width is the CORPUS
    * VOCABULARY (unbounded for open web text); the sketch keeps
    * O(`capacity`) mergeable state in one pass with no term shuffle at
    * all. Vocabulary = the top `vocabSize` sketch survivors by
    * (estimated count desc, term asc) — the exact form's tiebreak on the
    * sketch's estimates.
    *
    * Contract (Misra-Gries, `capacity − 1` counters — the classic m-counter
    * sketch with m = capacity − 1, error ≤ N/(m+1) = N/capacity): every
    * term with true count > N/capacity survives the sketch, and
    * est ∈ [true − N/capacity, true]. So when `capacity − 1` ≥ the
    * corpus's distinct-term count the sketch never decrements, estimates
    * are exact, and the rewrite is byte-identical to [[unkRewrite]]
    * (spec-pinned); below that, boundary terms whose true counts sit
    * within N/capacity of the V-th count may swap in or out — the
    * in-query `t_unk_mg_rewrite` row measures exactly this vocab overlap
    * and the doc-level agreement it induces. `capacity > vocabSize` is
    * required (not ≥): with capacity − 1 counters, capacity == vocabSize
    * could never fill the vocabulary even on an exact-regime corpus.
    * Rewrite plan shape is identical to [[unkRewrite]] — only the vocab
    * source differs. */
  def unkRewriteMG(df: DataFrame, idCol: String, textCol: String,
                   vocabSize: Int, capacity: Int,
                   unkToken: String = "<unk>"): DataFrame = {
    require(vocabSize > 0 && capacity > vocabSize,
      s"unkRewriteMG: vocabSize=$vocabSize needs capacity > vocabSize " +
        s"(got $capacity): the sketch keeps capacity-1 counters")
    val toks = posTokens(df, idCol, textCol)
    val vocab = toks
      .agg(graft.functions.expr.HeavyHittersAgg
        .heavyHitters(col("__tok"), capacity).as("__hh"))
      .select(explode(col("__hh")).as("__e"))
      .select(col("__e.item").as("__tok"), col("__e.est").as("__est"))
      .orderBy(col("__est").desc, col("__tok")).limit(vocabSize)
      .select(col("__tok"))
    rewriteWithVocab(toks, vocab, idCol, unkToken)
  }

  private def posTokens(df: DataFrame, idCol: String,
                        textCol: String): DataFrame =
    df.select(col(idCol), posexplode(tokens(col(textCol)))
      .as(Seq("__pos", "__tok")))

  /** Shared rewrite tail: membership as a broadcast left join against the
    * (V-row) vocab, reassembly as one per-document aggregation ordered by
    * token position. */
  private def rewriteWithVocab(toks: DataFrame, vocab: DataFrame,
                               idCol: String, unkToken: String): DataFrame =
    toks.join(broadcast(vocab.withColumn("__in", lit(true))),
        Seq("__tok"), "left")
      .select(col(idCol), col("__pos"),
        when(col("__in").isNotNull, col("__tok")).otherwise(lit(unkToken))
          .as("__out"),
        col("__in"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_unk"),
        array_join(transform(array_sort(collect_list(
          struct(col("__pos"), col("__out")))),
          p => p("__out")), " ").as("unk_text"))

  /** Per-document stats frame: id, token/char counts, ratios, quality.
    *
    * Tokenizes ONCE into a projected array column and derives every
    * token-based stat (and the quality blend) from it / from the already
    * computed ratio columns — the column-at-a-time form re-ran the
    * normalize+split regex pipeline per output column (measured ~40%
    * slower at sf0.1). Values are expression-identical to the standalone
    * functions above, which remain the documented per-column API. */
  def documentStats(df: DataFrame, idCol: String, textCol: String,
                    stopwords: Seq[String]): DataFrame = {
    val sw = array(stopwords.map(lit): _*)
    val t = col("__t")
    val n = length(col("__text"))
    val base = df
      .select(col(idCol), col(textCol).as("__text"),
        tokens(col(textCol)).as("__t"))
      .select(
        col(idCol),
        size(t).as("n_tokens"),
        n.as("n_chars"),
        when(size(t) === 0, 0.0).otherwise(
          aggregate(t, lit(0L), (acc, w) => acc + length(w)).cast("double") /
            size(t)).as("avg_word_len"),
        when(n === 0, 0.0).otherwise(
          (n - length(regexp_replace(col("__text"), "[\\p{Punct}]", "")))
            .cast("double") / n).as("punct_ratio"),
        when(size(t) === 0, 0.0).otherwise(
          size(filter(t, w => array_contains(sw, w))).cast("double") /
            size(t)).as("stopword_ratio"),
        size(array_distinct(t)).as("n_distinct_tokens"))
    base.withColumn("quality", Features.clip(
      least(col("n_tokens").cast("double") / 100.0, lit(1.0)) * 0.4 +
        (lit(1.0) - least(col("punct_ratio") * 5.0, lit(1.0))) * 0.3 +
        least(col("stopword_ratio") * 4.0, lit(1.0)) * 0.3, 0.0, 1.0))
  }

  /** Per-document unigram entropy and type-token ratio — the classic
    * repetitiveness/diversity quality signals (low entropy = degenerate
    * boilerplate or keyword stuffing). Entropy is computed as
    * ln(n) − Σ c·ln(c) / n over per-doc term counts — algebraically
    * −Σ p·ln(p) but with one fused aggregate per doc, no per-term
    * division, and a float-op sequence an oracle engine reproduces
    * exactly. One exploded pass → one (doc,term) aggregation → one
    * per-doc aggregation; every shuffle key is (doc, term) or doc, so
    * work is linear in corpus token count at any scale. */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        round(log(sum(col("c")).cast("double")) -
          sum(col("c").cast("double") * log(col("c").cast("double"))) /
            sum(col("c")), 6).as("entropy"),
        round(count(lit(1)).cast("double") / sum(col("c")), 6).as("ttr"))

  /** Corpus drift: per-group KL divergence of the group's unigram
    * distribution against the whole-corpus distribution, with add-one
    * (Laplace) smoothing over the shared vocabulary so unseen terms are
    * defined. The distribution-shift monitor a training pipeline runs
    * per source/snapshot before mixing data. Layout: one exploded pass
    * feeds both count tables; the per-group table left-joins the (small)
    * vocabulary so each group scores every vocab term — work is
    * O(groups × vocab), with vocab bounded by the corpus (and cappable
    * upstream via a heavy-hitters cut if a corpus has an unbounded tail). */
  def klDrift(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(groupCol), explode(tokens(col(textCol))).as("term"))
    // Corpus-wide term counts + totals (vocab-sized frames — broadcastable).
    val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("cq"))
    val nTotal = toks.agg(count(lit(1)).as("nq"), countDistinct(col("term")).as("v"))
    val byGroup = toks.groupBy(col(groupCol), col("term"))
      .agg(count(lit(1)).as("cp"))
    val groupTotals = toks.groupBy(col(groupCol)).agg(count(lit(1)).as("np"))
    // Every group × every vocab term (absent terms get cp=0), smoothed
    // probabilities, then one sum per group.
    groupTotals
      .crossJoin(broadcast(vocab))
      .join(byGroup, Seq(groupCol, "term"), "left")
      .na.fill(0L, Seq("cp"))
      .crossJoin(broadcast(nTotal))
      .select(col(groupCol), col("np"),
        ((col("cp") + 1).cast("double") / (col("np") + col("v"))).as("p"),
        ((col("cq") + 1).cast("double") / (col("nq") + col("v"))).as("q"))
      .groupBy(col(groupCol))
      .agg(max(col("np")).as("n_tokens"),
        round(sum(col("p") * log(col("p") / col("q"))), 6).as("kl"))
  }

  /** [[klDrift]] with the vocabulary CAPPED to the `vocabCap` most
    * frequent corpus terms (ties broken by term) — the open-vocabulary
    * form's broadcast grows with corpus vocab, which at 100 TB (web-scale
    * text ≈ billions of distinct tokens) outgrows any broadcast budget.
    * Here the event space IS the capped vocab: all counts and totals
    * (np, nq) are recomputed within it, so the smoothed distributions
    * still sum to 1 over vocabCap+ terms and KL stays well-defined. The
    * explicit `limit` also makes the broadcast build side PROVABLY
    * bounded to the plan audit (no acknowledged-contract entry needed).
    * Head-vocabulary KL captures virtually all practical drift signal —
    * tail terms contribute O(1/np) each to the sum. */
  def klDriftCapped(df: DataFrame, groupCol: String, textCol: String,
                    vocabCap: Int): DataFrame = {
    val toks = df.select(col(groupCol), explode(tokens(col(textCol))).as("term"))
    val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("cq"))
      .orderBy(col("cq").desc, col("term")).limit(vocabCap)
    // Totals within the capped vocab (vocab is tiny — broadcast semi-join).
    val inVocab = toks.join(broadcast(vocab.select(col("term"))),
      Seq("term"), "left_semi")
    val nTotal = inVocab.agg(count(lit(1)).as("nq"),
      countDistinct(col("term")).as("v"))
    val byGroup = inVocab.groupBy(col(groupCol), col("term"))
      .agg(count(lit(1)).as("cp"))
    val groupTotals = inVocab.groupBy(col(groupCol))
      .agg(count(lit(1)).as("np"))
    groupTotals
      .crossJoin(broadcast(vocab))
      .join(byGroup, Seq(groupCol, "term"), "left")
      .na.fill(0L, Seq("cp"))
      .crossJoin(broadcast(nTotal))
      .select(col(groupCol), col("np"),
        ((col("cp") + 1).cast("double") / (col("np") + col("v"))).as("p"),
        ((col("cq") + 1).cast("double") / (col("nq") + col("v"))).as("q"))
      .groupBy(col(groupCol))
      .agg(max(col("np")).as("n_tokens"),
        round(sum(col("p") * log(col("p") / col("q"))), 6).as("kl"))
  }

  /** Train→test n-gram decontamination report (the GPT-3 appendix-C /
    * C4 eval-leakage check): for each test document, how many of its
    * word n-grams also appear anywhere in the training corpus. Returns
    * (id, n_grams, n_contaminated, contaminated). Candidate generation
    * is a distinct-gram equi-join — linear in corpus gram count, never
    * doc×doc; at 100 TB the gram strings would be xxhash64-bucketed
    * (ship 8-byte keys, not text) — kept as strings here so an external
    * SQL oracle can reproduce counts exactly. */
  def decontaminationReport(test: DataFrame, train: DataFrame,
                            idCol: String, textCol: String,
                            n: Int = 5): DataFrame =
    decontaminationReportFromTokens(
      test.select(col(idCol), Dedup.tokens(col(textCol)).as("__toks")),
      train.select(col(idCol), Dedup.tokens(col(textCol)).as("__toks")),
      idCol, "__toks", n)

  /** [[decontaminationReport]] from a precomputed token-array column —
    * multi-stage pipelines that tokenized once upstream
    * (`c2_corpus_pipeline`) thread their token column through instead of
    * re-tokenizing both splits here. */
  def decontaminationReportFromTokens(test: DataFrame, train: DataFrame,
                                      idCol: String, tokensCol: String,
                                      n: Int = 5): DataFrame = {
    // Plan choice is by SHAPE, not just absolute size: the broadcast
    // prefilter wins exactly when the test side is benchmark-shaped —
    // tiny against the corpus — because its survivor gram set (≤ |test
    // grams|) must itself broadcast back. On a corpus-shaped test side
    // the survivors ARE a corpus-scale string set and the plan
    // degenerates: the full-registry sf10 sweep measured the broadcast
    // form at 54.5 s vs 4.8 s shuffled on x12's 80/20 split (survivors ≈
    // half the corpus gram instances). Both conditions, both from
    // Catalyst's own estimates: test under the absolute broadcast cap
    // AND at least 16× smaller than train.
    val ts = test.queryExecution.optimizedPlan.stats.sizeInBytes
    val trs = train.queryExecution.optimizedPlan.stats.sizeInBytes
    decontaminationReportFromTokens(test, train, idCol, tokensCol, n,
      useBroadcast = ts <= (1L << 28) && ts * 16 <= trs)
  }

  /** [[decontaminationReportFromTokens]] with the plan choice pinned —
    * the differential spec's handle (both paths must produce identical
    * rows) and the escape hatch for a caller who knows the shape better
    * than the size estimates do. */
  private[graft] def decontaminationReportFromTokens(
      test: DataFrame, train: DataFrame, idCol: String, tokensCol: String,
      n: Int, useBroadcast: Boolean): DataFrame = {
    def grams(df: DataFrame): DataFrame =
      df.select(col(idCol),
        explode(Dedup.wordShinglesFromTokens(col(tokensCol), n)).as("gram"))
    // Distinct gram set of the training corpus (dedup before the join:
    // the contaminated-count is per distinct test gram, and the train
    // side only needs membership).
    val testGrams = grams(test).distinct()
    // SCALE PLAN — the train side is the CORPUS: at 100 TB its gram set
    // must never shuffle, and a plain semi-join here shuffles it in full
    // (LeftSemi can only build on the right/train side, which is far too
    // big to broadcast — so both sides exchange). The benchmark/test side
    // is small by definition (GPT-3 appendix C: eval suites vs the whole
    // training corpus), so membership resolves with the corpus side
    // touched exactly once, map-side:
    //   (1) train grams semi-joined against the BROADCAST distinct
    //       xxhash64 set of test grams — 8 bytes per key, no train-side
    //       exchange; a hash false positive only ADDS a survivor row;
    //   (2) the distinct survivor STRINGS — at most |test grams| plus
    //       those rare false positives — broadcast back and semi-joined
    //       on the exact gram text, which removes any hash collision.
    // Output is bit-identical to the shuffled form (the x12/c2 oracle
    // hashes pin it); the public overload falls back to the shuffled join
    // when the test side is not benchmark-shaped (see its gate).
    val trainGrams = grams(train).select(col("gram"))
    val hitGrams =
      if (useBroadcast) {
        val testKeys = testGrams
          .select(xxhash64(col("gram")).as("__k")).distinct()
        val survivors = trainGrams
          .join(broadcast(testKeys),
            xxhash64(col("gram")) === col("__k"), "left_semi")
          .distinct()
        testGrams.join(broadcast(survivors), Seq("gram"), "left_semi")
      } else testGrams.join(trainGrams.distinct(), Seq("gram"), "left_semi")
    val hits = hitGrams
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_contaminated"))
    testGrams.groupBy(col(idCol)).agg(count(lit(1)).as("n_grams"))
      .join(hits, Seq(idCol), "left")
      .na.fill(0L, Seq("n_contaminated"))
      .select(col(idCol), col("n_grams"), col("n_contaminated"),
        (col("n_contaminated") > 0).as("contaminated"))
  }

  /** Span-level exact-duplicate statistics — the n-token-granularity form
    * of exact dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better": duplicated SUBSTRINGS matter even when no
    * whole document repeats; reference has no analog — doc-granularity
    * only, `feature_engineering.py` content hashing). Per document: the
    * count of its distinct `n`-token spans, how many of those spans also
    * occur in at least one OTHER document, and the ratio — the per-doc
    * signal a span-masking / span-dropping pass keys on.
    *
    * Scale shape: explode to one row per (doc, span) — linear in corpus
    * tokens — then ONE count aggregation keyed on the span's 64-bit
    * xxhash64 (not the span string: the shuffle carries 8 bytes per span
    * instead of ~n words; a cross-doc hash collision would need ~2³²
    * distinct spans to be likely — at that corpus size the span STRING
    * shuffle is the thing that doesn't scale). Spans already distinct per
    * doc before the count, so the per-span group sees docs, not
    * occurrences — the same two-stage shape as the skew-proof distinct.
    * Docs shorter than `n` tokens contribute their whole text as one span
    * (the [[Dedup.wordShingles]] convention, shared with decontamination).
    */
  def spanDupStats(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 8): DataFrame = {
    val spans = df
      .select(col(idCol),
        explode(Dedup.wordShingles(col(textCol), n)).as("__span"))
      .select(col(idCol), xxhash64(col("__span")).as("__h"))
      .distinct()
    val perSpan = spans.groupBy(col("__h"))
      .agg(count(lit(1)).as("__n_docs"))
    spans.join(perSpan, Seq("__h"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__n_docs") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
      .select(col(idCol), col("n_spans"), col("n_dup_spans"),
        round(col("n_dup_spans").cast("double") / col("n_spans"), 6)
          .as("dup_ratio"))
  }

  /** The d_passage_dedup segmenter, shared with the incremental store
    * form: non-overlapping `size`-token passages as one row each —
    * (idCol, passage_idx, __passage). Pure per-row explode. */
  def segmentPassages(df: DataFrame, idCol: String, textCol: String,
                      size: Int): DataFrame = {
    require(size > 0, s"segmentPassages: size must be positive, got $size")
    df.select(col(idCol), Dedup.tokens(col(textCol)).as("__t"))
      .select(col(idCol),
        posexplode(transform(
          sequence(lit(0L), greatest(
            ceil((org.apache.spark.sql.functions.size(col("__t")) - size)
              .cast("double") / size).cast("long"), lit(0L))),
          i => slice(col("__t"), (i * size + 1).cast("int"), lit(size)))))
      .select(col(idCol), col("pos").cast("long").as("passage_idx"),
        concat_ws(" ", col("col")).as("__passage"))
  }

  /** Repeated-passage REMOVAL — the rewrite stage [[spanDupStats]] is the
    * observability for (C4's repeated-line drop / Lee et al. 2022
    * substring dedup, at passage granularity): documents are segmented
    * into non-overlapping `size`-token passages, every passage whose
    * exact content already occurred EARLIER in the corpus — at a
    * lexicographically smaller (id, passage_idx) — is dropped, and each
    * document is reassembled from its surviving passages in order.
    * Within-doc repeats collapse to their first occurrence too (the same
    * rule, no special case). Emits (id, n_passages, n_kept, clean_text);
    * a fully-duplicated document survives as an empty clean_text row so
    * the caller decides the drop, exactly like the quality filter.
    *
    * Scale shape: one explode (linear in corpus tokens) → first-occurrence
    * election as ONE map-combined min-struct aggregation keyed on the
    * passage's md5 (16 bytes on the shuffle, never the text — the
    * [[spanDupStats]] argument) → hash-join the election back → one
    * per-document reassembly aggregation. No windows, no self-join, no
    * quadratic term; the only corpus-sized shuffles are the two
    * aggregations. First-occurrence-wins (not arbitrary-winner) makes the
    * output deterministic and growth-stable: appending new documents can
    * never change which EXISTING passage is the keeper. */
  def dedupPassages(df: DataFrame, idCol: String, textCol: String,
                    size: Int = 16): DataFrame = {
    val segmented = segmentPassages(df, idCol, textCol, size)
      .withColumn("__h", md5(col("__passage")))
    // First occurrence per passage content: min (id, passage_idx) struct —
    // map-combined, so the hot all-corpus-duplicate passage reduces
    // per-partition before the exchange (no single-reducer key).
    val firstSeen = segmented.groupBy(col("__h"))
      .agg(min(struct(col(idCol).as("__fid"),
        col("passage_idx").as("__fidx"))).as("__first"))
    segmented.join(firstSeen, Seq("__h"))
      .withColumn("__keep", col("__first.__fid") === col(idCol) &&
        col("__first.__fidx") === col("passage_idx"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(array_sort(collect_list(
          when(col("__keep"), struct(col("passage_idx"), col("__passage")))
            .otherwise(lit(null)))),
          p => p("__passage")), " ").as("clean_text"))
  }

  /** Span-granular duplicate REMOVAL at ARBITRARY offsets — the full
    * Lee et al. 2022 semantics [[dedupPassages]] approximates at fixed
    * passage boundaries (its removal unit is the aligned 16-token block;
    * a duplicated run straddling two blocks survives both). Here every
    * SLIDING n-token span is elected (first-occurrence-wins on content,
    * ordered by (id, span_start) — the [[dedupPassages]] rule), every
    * occurrence that is NOT its content's first covers its n token
    * positions for removal, covered positions are dropped and each
    * document is reassembled from the surviving tokens in order. Overlap
    * and boundary merging fall out of position-coverage union — no
    * interval arithmetic. Emits (id, n_tokens, n_removed, clean_text);
    * a fully-duplicated document survives as an empty clean_text row
    * (the caller decides the drop, like [[dedupPassages]]).
    *
    * Semantics notes (deterministic, engine-replayable):
    *  - documents shorter than `n` tokens have no spans and are always
    *    kept whole — runs below the match granularity are not duplication
    *    (Lee et al.'s minimum-match-length threshold); whole-short-doc
    *    duplicates belong to [[graft.ops.Dedup.exactDedup]];
    *  - a first-occurrence span's tokens can still be removed when a
    *    DIFFERENT duplicated span covers them (including self-overlapping
    *    periodic text: "a a a a a" at n=2 keeps exactly "a") — coverage
    *    union is more aggressive than Lee et al.'s keep-one-occurrence
    *    on periodic runs, but is order-free and growth-stable: appending
    *    documents never changes which EXISTING occurrence is first.
    *
    * Scale shape: one explode (≈ corpus tokens span rows; the shuffle
    * ships the 16-byte content hash, never the span text) → the election
    * as ONE map-combined min-struct aggregation → hash-join back → dup
    * coverage exploded to (id, pos) and distinct'd → one token-level
    * left join + per-document reassembly aggregation. No windows, no
    * self-join, no quadratic term — the same linear skeleton as
    * [[dedupPassages]] with a ×n coverage explode on DUP spans only. */
  def dedupSpans(df: DataFrame, idCol: String, textCol: String,
                 n: Int = 8): DataFrame = {
    require(n > 0, s"dedupSpans: n must be positive, got $n")
    val toks = df.select(col(idCol), Dedup.tokens(col(textCol)).as("__t"))
    // No spans below the match granularity: wordShinglesFromTokens emits
    // the whole doc as ONE shingle when len < n, which would turn this
    // into exact whole-doc dedup for short rows — mask it to empty.
    val spans = toks
      .select(col(idCol),
        posexplode(when(size(col("__t")) < n,
          array().cast("array<string>"))
          .otherwise(Dedup.wordShinglesFromTokens(col("__t"), n)))
          .as(Seq("__i", "__span")))
      .select(col(idCol), col("__i").cast("long").as("__i"),
        md5(col("__span")).as("__h"))
    val firstSeen = spans.groupBy(col("__h"))
      .agg(min(struct(col(idCol).as("__fid"), col("__i").as("__fidx")))
        .as("__first"))
    val removed = spans.join(firstSeen, Seq("__h"))
      .filter(!(col("__first.__fid") === col(idCol) &&
        col("__first.__fidx") === col("__i")))
      .select(col(idCol),
        explode(sequence(col("__i"), col("__i") + (n - 1))).as("__p"))
      .distinct()
    toks.select(col(idCol), posexplode(col("__t")).as(Seq("__p", "__tok")))
      .withColumn("__p", col("__p").cast("long"))
      .join(removed.withColumn("__rm", lit(true)), Seq(idCol, "__p"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__rm"), 1L).otherwise(0L)).as("n_removed"),
        array_join(transform(array_sort(collect_list(
          when(col("__rm").isNull, struct(col("__p"), col("__tok"))))),
          p => p("__tok")), " ").as("clean_text"))
  }

  /** Overlapping token-window chunking — the RAG/embedding-prep splitter:
    * each document becomes ceil((len−size)/stride)+1 chunks of up to
    * `size` tokens starting every `stride` tokens (consecutive chunks
    * overlap by size−stride). Emits (id, chunk_idx, start_token,
    * n_tokens, chunk_hash) — the manifest an embedding/indexing stage
    * consumes; callers wanting the text swap the md5 for the joined
    * chunk itself. Pure per-row explode: no shuffle, linear in corpus
    * tokens, chunk identity (id, chunk_idx) is deterministic so the
    * downstream embedding table is stable across re-runs. Documents
    * shorter than `size` (including empty) yield exactly one chunk. */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
                size: Int = 32, stride: Int = 24): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      s"need 0 < stride <= size, got size=$size stride=$stride")
    val base = df.select(col(idCol), tokens(col(textCol)).as("__t"))
    // last chunk index: ceil((len - size) / stride), floored at 0.
    // Double ceil (not integer tricks): DuckDB's integer `/` is float
    // division and its `//` floors while Scala truncates — the double
    // form is the one both engines compute identically.
    val lastIdx = greatest(
      ceil((org.apache.spark.sql.functions.size(col("__t")) - size)
        .cast("double") / stride).cast("long"), lit(0L))
    base
      .select(col(idCol),
        posexplode(transform(sequence(lit(0L), lastIdx),
          i => slice(col("__t"), (i * stride + 1).cast("int"), lit(size)))))
      .select(col(idCol),
        col("pos").cast("long").as("chunk_idx"),
        (col("pos").cast("long") * stride).as("start_token"),
        org.apache.spark.sql.functions.size(col("col")).cast("long")
          .as("n_tokens"),
        md5(concat_ws(" ", col("col"))).as("chunk_hash"))
  }

  /** The per-document text-feature MATRIX: every per-row signal the text
    * tranche computes — counts, ratios, entropy, quality, language,
    * fingerprint, pattern counts — assembled in ONE pass with ONE
    * tokenization. This is the frame a corpus-filtering model trains on
    * and a quality gate thresholds against; at 100 TB its plan shape is
    * the whole point: a single parquet scan, zero joins, zero
    * aggregations, zero exchanges — every feature is a scalar expression
    * over (text, tokens), so throughput is scan-bound and the operator
    * parallelizes perfectly at any width.
    *
    * Entropy is the per-row HOF form (distinct-token counts folded
    * in-place) rather than t_entropy's explode+groupBy — O(types·len)
    * inside the row beats a corpus-wide exploded shuffle when the whole
    * matrix is being built anyway. */
  def textFeatureMatrix(df: DataFrame, idCol: String, textCol: String,
                        stopwords: Seq[String],
                        profiles: Seq[(String, Seq[String])]): DataFrame = {
    val sw = array(stopwords.map(lit): _*)
    val base = df.select(col(idCol), col(textCol).as("__text"),
      tokens(col(textCol)).as("__t"))
    val t = col("__t")
    val n = length(col("__text"))
    val nt = org.apache.spark.sql.functions.size(t)
    def ratioVs(cleaned: Column): Column =
      when(n === 0, 0.0).otherwise((n - length(cleaned)).cast("double") / n)
    val punct = ratioVs(regexp_replace(col("__text"), "[\\p{Punct}]", ""))
    val stopr = when(nt === 0, 0.0).otherwise(
      org.apache.spark.sql.functions.size(
        filter(t, w => array_contains(sw, w))).cast("double") / nt)
    // distinct-token counts, folded per row for the entropy term
    val counts = transform(array_distinct(t),
      x => org.apache.spark.sql.functions.size(filter(t, y => y === x)))
    val entSum = aggregate(counts, lit(0.0),
      (acc, c) => acc + c.cast("double") * log(c.cast("double")))
    val lenScore = least(nt.cast("double") / 100.0, lit(1.0))
    val punctScore = lit(1.0) - least(punct * 5.0, lit(1.0))
    val stopScore = least(stopr * 4.0, lit(1.0))
    base.select(
      col(idCol),
      nt.as("n_tokens"),
      n.as("n_chars"),
      when(nt === 0, 0.0).otherwise(
        aggregate(t, lit(0L), (acc, w) => acc + length(w)).cast("double") /
          nt).as("avg_word_len"),
      punct.as("punct_ratio"),
      ratioVs(regexp_replace(col("__text"), "[A-Z]", "")).as("upper_ratio"),
      ratioVs(regexp_replace(col("__text"), "[0-9]", "")).as("digit_ratio"),
      stopr.as("stopword_ratio"),
      org.apache.spark.sql.functions.size(array_distinct(t))
        .as("n_distinct_tokens"),
      when(nt === 0, 0.0).otherwise(
        round(org.apache.spark.sql.functions.size(array_distinct(t))
          .cast("double") / nt, 6)).as("ttr"),
      when(nt === 0, 0.0).otherwise(
        round(log(nt.cast("double")) - entSum / nt, 6)).as("entropy"),
      Features.clip(
        lenScore * 0.4 + punctScore * 0.3 + stopScore * 0.3, 0.0, 1.0)
        .as("quality"),
      langIdFromTokens(t, profiles).as("lang_pred"),
      fingerprint(col("__text")).as("fp"),
      regexp_count(col("__text"), lit("https?://[^ ]+")).as("n_urls"),
      regexp_count(col("__text"), lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"))
        .as("n_emails"),
      regexp_count(col("__text"), lit("[0-9]+")).as("n_digit_runs"))
  }

  /** Gopher/MassiveText repetition CHARACTER fractions (Rae et al. 2021,
    * appendix A1.1 — the thresholds the paper actually filters on; the
    * reference's quality gate thresholds scalar ratios the same way,
    * `src/data/validation.py` style). Two families, both per document,
    * both as integer parts-per-million for cross-engine arithmetic
    * parity:
    *
    *  - `top{n}gram_ppm` (paper rows "top n-gram character fraction",
    *    n ∈ `topNs`): characters covered by ALL occurrences of the
    *    single most frequent word n-gram, over total characters.
    *    Occurrences of the top gram may overlap, so the numerator is the
    *    plain `count · len(gram)` product the paper uses — degenerate
    *    looping text can exceed 1e6 by design. Ties on count break to
    *    the lexicographically greatest gram (a deterministic argmax in
    *    both engines: `max(struct(count, gram))`).
    *  - `dup{n}gram_ppm` (paper rows "duplicate n-gram character
    *    fraction", n ∈ `dupNs`): characters covered by at least one
    *    occurrence of some n-gram that appears ≥2 times in the document
    *    — the POSITIONAL UNION ("taking care not to count characters
    *    that occur in overlapping n-grams more than once"), not a sum of
    *    products: occurrence intervals [cstart, cstart+len) are merged
    *    with a running-max sweep in char coordinates.
    *
    * Character coordinates are over the normalized space-joined token
    * text (`tokens`' lower/collapse/trim), so `total_chars` =
    * Σ len(tok) + (ntok − 1) separators and a gram's span length is
    * exactly `length(gram)`.
    *
    * Plan shape (100 TB posture): ONE tokenize + posexplode of the
    * corpus, then per-document windows — the prefix char offset and the
    * `lead` chain that assembles every requested n's grams come from the
    * SAME (doc, pos) sort, so all gram families share one exchange; the
    * exploded frame is barriered (localCheckpoint) so the per-n
    * aggregates don't re-derive it. Each family is then a
    * (doc, gram)-keyed linear aggregation — keys include the document
    * id, so hub documents don't concentrate (the quadratic-free
    * contrast: `textFeatureMatrix`'s in-row O(types·len) fold is per-row
    * but this operator's counts must see all occurrences, so they
    * shuffle once). Docs shorter than n tokens emit no n-grams and
    * report 0 (NOT the full-doc pseudo-gram [[Dedup.wordShingles]]
    * returns for its banding use case — a 3-token doc is not "100%
    * covered by its top 4-gram").
    *
    * The synthetic corpus has no intra-document ≥5-gram repeats, so the
    * oracle row gates n ∈ {2,3}; the paper's 5..10 settings are plain
    * parameters. */
  def gopherRepetition(df: DataFrame, idCol: String, textCol: String,
                       topNs: Seq[Int] = Seq(2, 3, 4),
                       dupNs: Seq[Int] = Seq(5, 10),
                       materialize: Boolean = false): DataFrame = {
    require(topNs.nonEmpty || dupNs.nonEmpty,
      "gopherRepetition: need at least one n-gram size")
    // duplicate n within a family would emit duplicate output columns
    // (top{n}gram_ppm twice) and break the assembly joins downstream
    require(topNs.distinct == topNs && dupNs.distinct == dupNs,
      s"gopherRepetition: duplicate n-gram sizes (top=$topNs dup=$dupNs)")
    require((topNs ++ dupNs).forall(_ >= 2),
      s"gopherRepetition: n-gram sizes must be >= 2 (unigram 'repetition' " +
        s"is type-token ratio — documentStats.ttr), got top=$topNs dup=$dupNs")
    val maxN = (topNs ++ dupNs).max
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__pos"))
    val wPrefix = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val tok0 = df.select(col(idCol),
      posexplode(tokens(col(textCol))).as(Seq("__pos", "__tok")))
    // STORAGE CONTRACT (the bpeMergesMaterialized trade, r17 A/B'd at
    // sf10 — BENCH_SF10.md r17 addendum 2): `materialize = true`
    // localCheckpoints the token-exploded frame — one row per token
    // with maxN−1 lead columns + the char-offset prefix sum, i.e.
    // ~maxN× corpus bytes of EXECUTOR-LOCAL storage — so the
    // |topNs| + |dupNs| + 1 aggregate families read it without
    // re-deriving the tokenize + window sort. `materialize = false`
    // (the DEFAULT — the A/B REFUTED the r12–r16 hard-coded
    // checkpoint) keeps the frame lazy, and the win is COLUMN PRUNING:
    // each family re-plans the exploded frame with only ITS columns —
    // the top-2 family shuffles (tok, t1), not the full maxN-wide lead
    // frame — so the per-family exchanges are narrow, while the
    // checkpoint materializes every lead column once and makes every
    // family read all of them (verified: the lazy plan has one
    // exchange PER family, 0 ReusedExchange — it recomputes, narrowly,
    // and still wins). Measured back-to-back interleaved (the GopherAb
    // harness, last in commit 65b4b15): sf0.1 2.0 s materialized / 1.5 s
    // lazy; sf10 38.5 / 26.6. Identical output either way
    // (checksum-asserted in that A/B harness). `materialize = true`
    // remains the knob for driving the families as SEPARATE actions (the
    // bpeMergesMaterialized regime), where lazy would re-tokenize per
    // ACTION with no shared plan.
    val withLeads0 = (1 until maxN).foldLeft(
      tok0.withColumn("__cstart", coalesce(
        sum((length(col("__tok")) + 1).cast("long")).over(wPrefix), lit(0L)))
    )((d, k) => d.withColumn(s"__t$k", lead(col("__tok"), k).over(w)))
    val withLeads =
      if (materialize) withLeads0.localCheckpoint(true) else withLeads0
    def gram(n: Int): Column =
      concat_ws(" ", (col("__tok") +: (1 until n).map(k => col(s"__t$k"))): _*)
    // chars covered by every occurrence of the most frequent n-gram
    def topAgg(n: Int): DataFrame =
      withLeads.filter(col(s"__t${n - 1}").isNotNull)
        .groupBy(col(idCol), gram(n).as("__g"))
        .agg(count(lit(1)).as("__cnt"))
        .groupBy(col(idCol))
        .agg(max(struct(col("__cnt"), col("__g"))).as("__m"))
        .select(col(idCol),
          (col("__m").getField("__cnt") *
            length(col("__m").getField("__g")).cast("long") * 1000000L)
            .as(s"__topnum$n"))
    // positional union of chars covered by duplicated n-grams
    def dupAgg(n: Int): DataFrame =
      withLeads.filter(col(s"__t${n - 1}").isNotNull)
        .select(col(idCol), col("__pos"), col("__cstart"), gram(n).as("__g"))
        .withColumn("__cend", col("__cstart") + length(col("__g")).cast("long"))
        .withColumn("__cnt", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col(idCol), col("__g"))))
        .filter(col("__cnt") > 1)
        .withColumn("__prev", coalesce(max(col("__cend")).over(wPrefix), lit(0L)))
        .select(col(idCol), greatest(lit(0L),
          col("__cend") - greatest(col("__cstart"), col("__prev"))).as("__c"))
        .groupBy(col(idCol))
        .agg((sum(col("__c")) * 1000000L).as(s"__dupnum$n"))
    val tot = withLeads.groupBy(col(idCol))
      .agg(greatest(
        sum((length(col("__tok")) + 1).cast("long")) - 1L, lit(0L))
        .as("total_chars"))
    val joined = (topNs.map(topAgg) ++ dupNs.map(dupAgg))
      .foldLeft(tot)((a, b) => a.join(b, Seq(idCol), "left"))
    def ppm(num: String, out: String): Column =
      coalesce(expr(s"$num div nullif(total_chars, 0)"), lit(0L)).as(out)
    joined.select(col(idCol) +: col("total_chars") +:
      (topNs.map(n => ppm(s"__topnum$n", s"top${n}gram_ppm")) ++
        dupNs.map(n => ppm(s"__dupnum$n", s"dup${n}gram_ppm"))): _*)
  }
}
