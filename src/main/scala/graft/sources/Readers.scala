package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Batch sources and sinks (SURVEY §2.1).
  *
  * Reference behaviors re-expressed Spark-first:
  *  - S1  `::`-delimited `.dat` scans (ref `src/data/movielens.py:85-160`)
  *  - S2/S3 parquet sink/scan (ref `scripts/train_movielens.py:180-182`,
  *    `scripts/evaluate_model.py:116-118`)
  *  - S4  timestamp-field parquet source (ref `src/features/feature_definitions.py:38-43`)
  *
  * All readers return lazy DataFrames; Catalyst handles pushdown/pruning.
  */
object Readers {

  /** S1: multi-char-delimited text scan with explicit schema and casts.
    * Spark 4's CSV reader accepts multi-char separators, so the `::` MovieLens
    * format (ref `src/data/movielens.py:92-98`: `sep="::", names=[...],
    * encoding="latin-1"`) maps directly onto the native, codegen'd CSV source —
    * no per-line UDF splitting needed.
    */
  def readDelimited(
      spark: SparkSession,
      path: String,
      schema: StructType,
      sep: String = "::",
      encoding: String = "ISO-8859-1"): DataFrame =
    spark.read
      .schema(schema)
      .option("sep", sep)
      .option("encoding", encoding)
      .option("header", "false")
      .csv(path)

  /** MovieLens ratings schema (ref `src/data/movielens.py:92-98`). */
  val ratingsSchema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("movie_id", LongType),
    StructField("rating", IntegerType),
    StructField("timestamp", LongType)))

  /** MovieLens users schema (ref `src/data/movielens.py:113-120`). */
  val usersSchema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("gender", StringType),
    StructField("age", IntegerType),
    StructField("occupation", IntegerType),
    StructField("zip_code", StringType)))

  /** MovieLens movies schema (ref `src/data/movielens.py:136-141`). */
  val moviesSchema: StructType = StructType(Seq(
    StructField("movie_id", LongType),
    StructField("title", StringType),
    StructField("genres", StringType)))

  /** S1 + derived columns: ratings with epoch-seconds decoded to timestamp
    * (ref `src/data/movielens.py:101`: `pd.to_datetime(..., unit="s")` → F7). */
  def loadRatings(spark: SparkSession, path: String): DataFrame =
    readDelimited(spark, path, ratingsSchema)
      .withColumn("datetime", timestamp_seconds(col("timestamp")))

  /** Users with `gender_encoded` (ref `src/data/movielens.py:123`). */
  def loadUsers(spark: SparkSession, path: String): DataFrame =
    readDelimited(spark, path, usersSchema)
      .withColumn("gender_encoded", when(col("gender") === "M", 1).otherwise(0))

  /** The 18 MovieLens genre names (ref `src/data/movielens.py:30-36`). */
  val genres: Seq[String] = Seq(
    "Action", "Adventure", "Animation", "Children's", "Comedy", "Crime",
    "Documentary", "Drama", "Fantasy", "Film-Noir", "Horror", "Musical",
    "Mystery", "Romance", "Sci-Fi", "Thriller", "War", "Western")

  /** Movies with year extraction (F1/F2), title cleanup, genre multi-hot
    * (F3) and genre count (F4) — ref `src/data/movielens.py:143-157`. */
  def loadMovies(spark: SparkSession, path: String): DataFrame = {
    val base = readDelimited(spark, path, moviesSchema)
      .withColumn("year",
        coalesce(regexp_extract(col("title"), "\\((\\d{4})\\)\\s*$", 1)
          .cast(IntegerType), lit(1990)))
      .withColumn("title_clean",
        regexp_replace(col("title"), "\\s*\\(\\d{4}\\)\\s*$", ""))
      .withColumn("num_genres", size(split(col("genres"), "\\|")))
    genres.foldLeft(base) { (df, g) =>
      val colName = "genre_" + g.toLowerCase.replace("-", "_").replace("'", "")
      df.withColumn(colName,
        when(col("genres").contains(g), 1).otherwise(0))
    }
  }
}
