package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generation. Every value is a pure function of the seed
  * and the row's key, so the same seed yields the same inputs on any
  * host and in any partitioning. Shapes follow the TPC-H-style testdata
  * (`lineitem`) and the LLM-pipeline tables (`documents`, `embeddings`).
  */
object Gen {
  val LineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  private val ShipEpochS = 694224000L // 1992-01-01
  private val ShipSpanS = 2500L * 86400L

  /** An independent stream for (seed, key...). */
  def rng(seed: Long, keys: Long*): SplittableRandom =
    new SplittableRandom(keys.foldLeft(seed * 0x9E3779B97F4A7C15L)(
      (h, k) => java.lang.Long.rotateLeft(h ^ (k * 0xC2B2AE3D27D4EB4FL), 29)
        * 0x165667B19E3779F9L))

  private def h(seed: Long, salt: Int, cs: Column*): Column =
    xxhash64(lit(seed) +: lit(salt) +: cs: _*)
  private def u(seed: Long, salt: Int, m: Long, cs: Column*): Column =
    pmod(h(seed, salt, cs: _*), lit(m))

  /** Lineitem rows of `nOrders` orders from `firstOrder` on, 1-7 lines
    * each (~4 on average), generated by Spark expressions in `partitions`
    * partitions of contiguous order keys (range-sorted by construction). */
  def lineitem(spark: SparkSession, seed: Long, nOrders: Long,
      firstOrder: Long = 1L, partitions: Int = 4): DataFrame = {
    def v(salt: Int, m: Long) = u(seed, salt, m, col("o"), col("ln"))
    val qty = (v(3, 50) + 1).cast(DoubleType)
    spark.range(firstOrder, firstOrder + nOrders, 1, partitions).select(col("id").as("o"))
      .withColumn("ln", explode(sequence(lit(1),
        (u(seed, 0, 7, col("o")) + 1).cast(IntegerType))))
      .select(
        col("o").as("l_orderkey"),
        (v(1, 20000) + 1).as("l_partkey"),
        (v(2, 1000) + 1).as("l_suppkey"),
        col("ln").as("l_linenumber"),
        qty.as("l_quantity"),
        round(qty * (v(4, 100000) / 100.0 + 900.0), 2).as("l_extendedprice"),
        (v(5, 11) / 100.0).as("l_discount"),
        (v(6, 9) / 100.0).as("l_tax"),
        when(v(7, 4) === 0, "R").when(v(7, 4) === 1, "A").otherwise("N")
          .as("l_returnflag"),
        when(v(8, 2) === 0, "O").otherwise("F").as("l_linestatus"),
        timestamp_seconds(lit(ShipEpochS) + v(9, ShipSpanS)).as("l_shipdate"))
  }

  /** `n` keys drawn uniformly from [1, maxKey] by the stream (seed, salt). */
  def keys(seed: Long, salt: Long, n: Int, maxKey: Long): Seq[Long] = {
    val r = rng(seed, 2, salt)
    Seq.fill(n)(1L + r.nextLong(maxKey))
  }

  // ------------------------------------------------------------ corpus

  /** A seeded vocabulary of pronounceable, distinct words. */
  def vocab(seed: Long, size: Int): Array[String] = {
    val cons = "bcdfghjklmnprstvwz"; val vows = "aeiou"
    val r = rng(seed, 3)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < size) {
      val syll = 2 + r.nextInt(3)
      seen += (1 to syll).map(_ =>
        s"${cons(r.nextInt(cons.length))}${vows(r.nextInt(vows.length))}").mkString
    }
    seen.toArray
  }

  private def words(seed: Long, salt: Int, vocabArr: Array[String],
      src: Column): Column = {
    val voc = typedLit(vocabArr.toSeq)
    val n = (u(seed, salt, 40, src) + 30).cast(IntegerType)
    array_join(transform(sequence(lit(1), n), i =>
      element_at(voc, (pmod(xxhash64(lit(seed), lit(salt + 1), src, i),
        lit(vocabArr.length.toLong)) + 1).cast(IntegerType))), " ")
  }

  /** Documents 1..n. Planted duplicates: ids ending in 3 are exact copies
    * of the previous id (upper-cased, padded: equal after normalization);
    * ids ending in 7 are near copies of id-2 (one extra trailing word,
    * shingle Jaccard >= 0.96). Every other text is random words. */
  def documents(spark: SparkSession, seed: Long, n: Long,
      vocabArr: Array[String]): DataFrame = {
    val id = col("doc_id")
    val src = when(id % 10 === 3, id - 1).when(id % 10 === 7, id - 2).otherwise(id)
    val base = words(seed, 10, vocabArr, src)
    val text = when(id % 10 === 3, upper(concat(lit("  "), base)))
      .when(id % 10 === 7, concat(base, lit(" zq")))
      .otherwise(base)
    spark.range(1, n + 1).select(col("id").as("doc_id"))
      .withColumn("text", text)
      .select(id, col("text"),
        element_at(typedLit(Seq("en", "de", "fr", "es", "zh")),
          (u(seed, 20, 5, id) + 1).cast(IntegerType)).as("lang"),
        element_at(typedLit(Seq("web", "books", "code")),
          (u(seed, 21, 3, id) + 1).cast(IntegerType)).as("source"),
        length(col("text")).cast(LongType).as("n_chars"))
  }

  /** Which documents a dedup pass's incoming batch copies exactly (0) or
    * as near copies (1); every other id is not copied. */
  def batchPick(seed: Long, pass: Long, id: Column): Column =
    u(seed, 30, 25, lit(pass), id)

  val CopyOffset = 10000000L
  val VariantOffset = 20000000L
  val FreshOffset = 40000000L

  /** The incoming batch of dedup pass `pass` over the raw corpus `docs`:
    * exact copies and " v2" near copies of seeded documents (all of them
    * duplicates of the index) plus `fresh` new random documents. */
  def docBatch(spark: SparkSession, seed: Long, pass: Long,
      docs: DataFrame, fresh: Int, vocabArr: Array[String]): DataFrame = {
    val pick = batchPick(seed, pass, col("doc_id"))
    val d = docs.select("doc_id", "text")
    val freshDocs = spark.range(1, fresh + 1)
      .select((lit(FreshOffset + pass * 100000L) + col("id")).as("doc_id"))
      .withColumn("text", words(seed, 40 + pass.toInt * 2, vocabArr, col("doc_id")))
    d.where(pick === 0).select((col("doc_id") + CopyOffset).as("doc_id"), col("text"))
      .unionByName(d.where(pick === 1).select(
        (col("doc_id") + VariantOffset).as("doc_id"),
        concat(col("text"), lit(" v2")).as("text")))
      .unionByName(freshDocs)
  }

  /** Embeddings 1..n: `dim` floats uniform in [-1, 1]. */
  def embeddings(spark: SparkSession, seed: Long, n: Long, dim: Int): DataFrame =
    spark.range(1, n + 1).select(col("id").as("vec_id"))
      .select(col("vec_id"),
        transform(sequence(lit(1), lit(dim)), i =>
          ((pmod(xxhash64(lit(seed), lit(50), col("vec_id"), i), lit(2001L)) - 1000)
            / 1000.0).cast(FloatType)).as("embedding"),
        u(seed, 51, 10, col("vec_id")).cast(IntegerType).as("label"))

  /** `k` seeded centroids of dimension `dim`. */
  def centroids(seed: Long, k: Int, dim: Int): Seq[Array[Double]] =
    (0 until k).map { c =>
      val r = rng(seed, 4, c.toLong)
      Array.fill(dim)(r.nextDouble() * 2 - 1)
    }
}
