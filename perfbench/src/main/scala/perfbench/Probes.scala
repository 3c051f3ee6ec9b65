package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.GraftFunctions.{cosine_similarity, sorted_intersect_count}
import graft.functions.MinHashSketch.minhash_sketch
import graft.operators.{GlobalRank, IslandMerge, IvfAssign, PqEncode}

/** Fixed-input probes of the custom kernels, run only in traced runs.
  * Each input is a pure function of the row id (no seed), pinned before
  * timing, so a probe measures the kernel alone and reads the same work on
  * every run; the reported figure is the median of three timed actions. */
object Probes {
  private def timed(reps: Int)(action: => Unit): Double = {
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime(); action; (System.nanoTime() - t0) / 1e9
    }.sorted
    ts(ts.size / 2)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def drop(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Deterministic 64-d vectors: sin/cos of id·i, a spread of directions. */
  private def vectors(spark: SparkSession, n: Long, f: String): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      expr(s"transform(sequence(1, 64), i -> $f(id * 0.37 + i))").as("e"))

  def run(spark: SparkSession, spans: Spans): Map[String, Double] = {
    val out = scala.collection.mutable.LinkedHashMap[String, Double]()
    def probe(name: String, layer: String)(body: => Double): Unit = {
      out(name) = spans(name, layer)(body)
      drop(spark)
    }

    probe("functions.cosine_rows_per_s", "functions") {
      val n = 200000L
      val in = Tables.pin(vectors(spark, n, "sin")
        .withColumn("b", expr("transform(e, x -> x * x - 0.25)")))
      n / timed(3) { in.agg(sum(cosine_similarity(col("e"), col("b")))).collect(); () }
    }
    probe("functions.sorted_intersect_rows_per_s", "functions") {
      val n = 200000L
      val in = Tables.pin(spark.range(n).select(
        expr("array_sort(array_distinct(transform(sequence(1, 24), " +
          "i -> cast(pmod(id * i, 97) as string))))").as("a"),
        expr("array_sort(array_distinct(transform(sequence(1, 24), " +
          "i -> cast(pmod(id + i * 7, 97) as string))))").as("b")))
      n / timed(3) { in.agg(sum(sorted_intersect_count(col("a"), col("b")))).collect(); () }
    }
    probe("functions.minhash_rows_per_s", "functions") {
      val n = 300000L
      val in = Tables.pin(spark.range(n).select((col("id") % 20000).as("doc"),
        xxhash64(col("id") % 5003).as("h")))
      n / timed(3) { noop(in.groupBy(col("doc")).agg(minhash_sketch(col("h")).as("sig"))) }
    }
    probe("operators.global_rank_s", "operators") {
      val in = Tables.pin(spark.range(50000L).select(col("id"),
        pmod(xxhash64(col("id")), lit(1000003L)).as("k"), (col("id") % 7).as("w")))
      timed(3) {
        noop(GlobalRank.attach(in, Seq(col("k"), col("id")), Some("rn"), Seq("w" -> "pw")))
      }
    }
    probe("operators.island_merge_s", "operators") {
      val in = Tables.pin(spark.range(50000L).select(col("id"),
        (pmod(xxhash64(col("id")), lit(3000000L))).as("s"))
        .withColumn("e", col("s") + pmod(col("id"), lit(17L))))
      timed(3) {
        noop(IslandMerge.attach(in, "s", "e", Seq(col("s"), col("e"), col("id")), "island"))
      }
    }
    probe("operators.ivf_assign_s", "operators") {
      val vecs = Tables.pin(vectors(spark, 10000L, "sin"))
      val cent = Tables.pin(vectors(spark, 32L, "cos").select(
        col("vec_id").cast("int").as("cell_label"), col("e").as("ce")))
      timed(3) { noop(IvfAssign.ranked(vecs, cent).filter(col("crn") === 1)) }
    }
    probe("operators.pq_encode_s", "operators") {
      val wide = Tables.pin(vectors(spark, 5000L, "sin").select(col("vec_id"),
        col("e").cast("array<float>").as("embedding")))
      val book = Tables.pin(PqEncode.codebook(PqEncode.toLong(wide), "xq"))
      timed(3) { noop(PqEncode.encodeWide(wide, book)) }
    }
    out.toMap
  }
}
