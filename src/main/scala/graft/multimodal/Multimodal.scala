package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (builder-brief north-star component).
  *
  * Image/audio/video payloads are opaque `BinaryType` columns with a typed
  * metadata struct riding alongside. The Spark-side machinery — schema,
  * chunking, batch shape, deterministic pseudo-decode — is real and tested;
  * the actual codec step is STUBBED with a deterministic fake because no
  * image/audio libraries exist in this environment. Swapping the stub for a
  * real decoder (e.g. a JNI codec inside `mapPartitions`, batched per
  * partition) changes only [[decodeFeaturesStub]].
  *
  * Scale posture: payloads stay opaque bytes end-to-end (no driver
  * materialization); chunking and feature extraction are per-row expressions;
  * partition sizing for large blobs is the caller's
  * `spark.sql.files.maxPartitionBytes` concern.
  */
object Multimodal {

  /** Attach a fake media payload derived from a text column: UTF-8 bytes as
    * the opaque blob plus a metadata struct (format/width/height) the way an
    * ingest pipeline would carry decoded-image metadata. */
  def attachFakeMedia(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("media", encode(col(textCol), "UTF-8"))
      .withColumn("media_meta", struct(
        lit("fake/raw").as("format"),
        (pmod(length(col("media")), lit(640)) + 1).cast("int").as("width"),
        (pmod(length(col("media")), lit(480)) + 1).cast("int").as("height")))

  /** Split a binary payload into fixed-size chunks (frame-sampling shape):
    * `substr` on BinaryType slices bytes; pure expression, no UDF. Empty
    * payloads get an explicit empty array — `sequence(0, -1)` would step
    * BACKWARD and yield two bogus chunks. */
  def chunkMedia(mediaCol: Column, chunkBytes: Int): Column = {
    val n = ceil(length(mediaCol).cast("double") / chunkBytes).cast("int")
    when(n <= 0, array().cast("array<binary>"))
      .otherwise(transform(sequence(lit(0), n - 1),
        i => mediaCol.substr(i * chunkBytes + 1, lit(chunkBytes))))
  }

  /** STUB resize plan: the target dimensions of a fit-within-box resize
    * (never upscales) from the metadata struct — the arithmetic half of a
    * resize stage, separated from the (environment-stubbed) pixel work so
    * it is exactly checkable: scale = min(maxW/w, maxH/h, 1), floor the
    * scaled dims. Pure double arithmetic in one expression order, so any
    * engine reproduces it bit-for-bit. A real implementation feeds these
    * dims to the codec in the same batched `mapPartitions` slot as
    * [[decodeFeaturesStub]]. */
  def resizeDims(metaCol: Column, maxW: Int, maxH: Int): Column = {
    val w = metaCol.getField("width").cast("double")
    val h = metaCol.getField("height").cast("double")
    val scale = least(least(lit(maxW.toDouble) / w, lit(maxH.toDouble) / h),
      lit(1.0))
    struct(floor(w * scale).cast("int").as("width"),
      floor(h * scale).cast("int").as("height"))
  }

  /** Perceptual 64-bit block-hash signature of an opaque binary payload
    * ([[graft.functions.expr.BlockHash64]] — 64 byte-segment means vs
    * their median, the blockhash/aHash family): local edits flip few
    * signature bits, so near-copies sit within small Hamming distance.
    * Null payload → null; empty → 0L (contentless blobs pair as exact
    * dups). */
  def blockHash64(mediaCol: Column): Column =
    org.apache.spark.sql.graftshim.ColumnBridge.column(
      graft.functions.expr.BlockHash64(
        org.apache.spark.sql.graftshim.ColumnBridge.expression(mediaCol)))

  /** Multimodal near-duplicate pairs over an opaque binary column — the
    * L2/L3 dedup machinery the text side has ([[graft.ops.Dedup]]
    * pigeonhole banding, hot-group handling, bucket caps), applied to
    * the perceptual [[blockHash64]] signature: candidate recall is
    * COMPLETE for pairs within signature-Hamming `maxHamming` (the
    * banding theorem — a planted near-copy is missed only if the edit
    * flips more than `maxHamming` signature bits, a property of the
    * signature, not the search; MultimodalSpec measures both). Output:
    * (id1, id2, hamming), id1 < id2. Swapping [[blockHash64]] for a
    * decoded-frame pHash (the environment-stubbed codec slot —
    * [[decodeFeaturesStub]]) changes only the signature expression.
    *
    * Banding, buckets and verify are [[graft.ops.Dedup.bandedNearDups]]
    * over one lane — the operator [[graft.ops.Dedup.simHashNearDups]]
    * runs on the text SimHash: distinct-fingerprint banding (dup groups
    * never go quadratic), one shuffle by fingerprint, a depth-salted
    * candidate join, the Hamming filter pre-distinct in its stream. */
  def mediaNearDups(df: DataFrame, idCol: String, mediaCol: String,
                    maxHamming: Int = 3, blockCombos: Int = 1,
                    maxBucketSize: Int = 0): DataFrame =
    graft.ops.Dedup.bandedNearDups(
      df.select(col(idCol), blockHash64(col(mediaCol)).as("l0")),
      idCol, maxHamming, blockCombos, maxBucketSize)

  /** Content-defined chunk hashes of an opaque binary payload
    * ([[graft.functions.expr.GearChunkHashes]] — Gear/FastCDC rolling
    * boundaries, FNV-1a 64 per chunk, expected chunk ≈ 2^avgBits
    * bytes): boundaries depend only on content since the previous
    * boundary, so inserts/appends/deletes perturb ONLY the touched
    * chunks — the insert-robust complement to [[blockHash64]]'s
    * byte-aligned segments. */
  def cdcChunkHashes(mediaCol: Column, avgBits: Int = 6): Column =
    org.apache.spark.sql.graftshim.ColumnBridge.column(
      graft.functions.expr.GearChunkHashes(
        org.apache.spark.sql.graftshim.ColumnBridge.expression(mediaCol),
        avgBits))

  /** The (id, __set, __hs) chunk-set frame both the CDC candidate lane
    * and the chunk-Jaccard verify consume — exposed so a composition
    * that needs both (m_dedup_resolve) runs the GearChunkHashes kernel
    * ONCE over the corpus instead of once per stage. */
  def cdcSetsFrame(df: DataFrame, idCol: String, mediaCol: String,
                   avgBits: Int): DataFrame =
    df.select(col(idCol), cdcChunkHashes(col(mediaCol), avgBits).as("__ch"))
      .withColumn("__set", array_distinct(col("__ch")))
      .withColumn("__hs", transform(col("__set"),
        h => pmod(h, lit(graft.ops.Dedup.MinHashPrime))))
      .select(col(idCol), col("__set"), col("__hs"))

  /** Multimodal near-dup over the LENGTH-CHANGING edit class
    * ([[mediaNearDups]]'s pinned limitation — appends/inserts shift
    * every fixed byte segment and scramble the block hash): content-
    * defined chunking turns the payload into a SET of chunk hashes
    * whose Jaccard is robust to local edits of any length, and the
    * MinHash-LSH banding machinery ([[graft.ops.Dedup]] — signature,
    * bands, hot-bucket cap, exact-Jaccard verify) runs over those sets
    * unchanged. Output: (id1, id2, jaccard ≥ threshold), id1 < id2.
    * Pick 2^avgBits well below typical payload size (enough chunks for
    * Jaccard resolution: at ~20 chunks one edited chunk costs ~0.05
    * Jaccard). Same hot-bucket/scale posture as minHashNearDups. */
  def mediaNearDupsCdc(df: DataFrame, idCol: String, mediaCol: String,
                       avgBits: Int = 6, numHashes: Int = 64,
                       bands: Int = 16, threshold: Double = 0.7,
                       seed: Long = 42, maxBucketSize: Int = 0): DataFrame =
    mediaNearDupsCdcFromSets(cdcSetsFrame(df, idCol, mediaCol, avgBits),
      idCol, numHashes, bands, threshold, seed, maxBucketSize)

  /** [[mediaNearDupsCdc]] over a precomputed [[cdcSetsFrame]]. */
  def mediaNearDupsCdcFromSets(withSets: DataFrame, idCol: String,
                               numHashes: Int = 64, bands: Int = 16,
                               threshold: Double = 0.7, seed: Long = 42,
                               maxBucketSize: Int = 0): DataFrame =
    graft.ops.Dedup.minHashNearDupsFromSets(withSets, idCol, numHashes,
      bands, threshold, seed, maxBucketSize)

  /** Content-level VERIFY of candidate near-dup pairs (the downstream
    * stage [[mediaNearDups]]'s scaladoc mandates — at corpus scale the
    * 64-bit block signature is a CANDIDATE generator whose structural
    * collisions must be re-checked against content): exact chunk-set
    * Jaccard over the CDC chunk hashes ([[cdcChunkHashes]] — content-
    * defined, so the measure is robust to the edit classes both
    * signature families target). Chunk sets are computed ONLY for ids
    * that appear in a candidate pair (semi-join below the chunk
    * projection — at scale candidates ≪ corpus, so the expensive
    * chunking kernel never runs on unpaired rows); two broadcast-or-
    * shuffle hash joins stitch sets onto pairs. Empty∧empty payloads
    * verify at Jaccard 1 (contentless blobs are exact dups). Output:
    * (id1, id2, jaccard) for pairs with jaccard >= threshold. */
  def verifyPairsChunkJaccard(df: DataFrame, idCol: String,
                              mediaCol: String, pairs: DataFrame,
                              threshold: Double,
                              avgBits: Int = 4): DataFrame =
    verifyPairsFromSets(
      df.select(col(idCol), col(mediaCol))
        .join(pairs.select(col("id1").as(idCol))
          .unionByName(pairs.select(col("id2").as(idCol))).distinct(),
          Seq(idCol), "left_semi")
        .select(col(idCol),
          array_distinct(cdcChunkHashes(col(mediaCol), avgBits))
            .as("__set")),
      idCol, pairs, threshold)

  /** [[verifyPairsChunkJaccard]] over precomputed chunk sets (a
    * [[cdcSetsFrame]] projection, or any (id, __set) frame): the join
    * below restricts to candidate-pair ids, so passing a full-corpus
    * sets frame is fine — at scale candidates ≪ corpus and the
    * expensive chunking kernel is paid once upstream, not re-run
    * here. */
  def verifyPairsFromSets(sets0: DataFrame, idCol: String,
                          pairs: DataFrame,
                          threshold: Double): DataFrame = {
    val sets = sets0.select(col(idCol), col("__set"))
    val j = pairs.select(col("id1"), col("id2"))
      .join(sets.select(col(idCol).as("id1"), col("__set").as("__s1")),
        Seq("id1"))
      .join(sets.select(col(idCol).as("id2"), col("__set").as("__s2")),
        Seq("id2"))
      .withColumn("__union",
        size(array_union(col("__s1"), col("__s2"))))
      .withColumn("jaccard",
        when(col("__union") === 0, lit(1.0))
          .otherwise(size(array_intersect(col("__s1"), col("__s2")))
            .cast("double") / col("__union")))
    j.filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** STUB decode: deterministic pseudo-features from the payload bytes —
    * dim hash-derived doubles in [0,1). A real implementation would decode
    * pixels/samples here (batched `mapPartitions` with a native codec); the
    * signature, schema and batch shape are what production code would use. */
  def decodeFeaturesStub(mediaCol: Column, dim: Int): Column =
    transform(sequence(lit(0), lit(dim - 1)),
      i => pmod(xxhash64(mediaCol, i), lit(100000L)).cast("double") / 100000.0)
}
