package perfbench

import scala.collection.mutable.LinkedHashMap

import org.apache.spark.sql.SparkSession

/** Benchmark harness: runs one workload against the engine's public Scala
  * API and writes every raw timing, count and (in a traced run) the census
  * and span tree to one JSON document. `run.py` builds this, makes the
  * inputs, checks the outputs against DuckDB and reduces the document to
  * the reported metrics.
  *
  * Arguments are `--key value` pairs; see [[Args]].
  */
object Harness {
  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def seed: Long = this("seed").toLong
    def seconds: Double = this("seconds").toDouble
    def trace: Boolean = this("trace") == "1"
    def data: String = this("data")
    def work: String = this("work")
    def cpus: Int = this("cpus").toInt
    def reps: Int = this("reps").toInt
    def minRounds: Int = this("min_rounds").toInt
    def list(k: String): Seq[String] = kv.get(k).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    /** When the harness started (nanoTime), for the phase stamps. */
    val start: Long = System.nanoTime()
  }

  type Result = LinkedHashMap[String, Any]

  /** The session every workload runs on: the engine's Bench settings
    * (extensions, AQE, 4×cores initial partitions, codegen cache) with all
    * scratch space inside the benchmark's work directory. */
  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus * 4)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", a.cpus * 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${a.work}/stream-ckpt")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.work}/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The between-samples epilogue `graft.Bench` uses: drop catalog caches
    * and every pinned block synchronously, then GC. */
  def epilogue(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The JVM's resident-set high-water mark in kB (VmHWM), 0 if unreadable. */
  def rssHwmKb(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
      finally src.close()
    } catch { case _: Exception => 0L }

  /** Reduce the traced run's census and spans into the result document. */
  def traced(spark: SparkSession, a: Args, spans: Spans, census: Census,
             rounds: Seq[(Int, Double, Double)], ops: Seq[(Int, Double, Double)],
             res: Result): Unit = {
    res("probes") = Probes.run(spark, spans)
    census.detach()
    res("census") = Census.perRound(census, a.cpus, rounds, ops)
      .map { case (r, m) => r.toString -> m }
    res("spans") = spans.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "layer" -> s.layer, "round" -> s.round,
      "start_ms" -> Clock.ms(s.startNs), "dur_s" -> (s.endNs - s.startNs) / 1e9))
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val spans = new Spans(a.trace)
    val res: Result = LinkedHashMap()
    val spark = a("kind") match {
      case "query"  => QueryRun.run(a, spans, res)
      case "ingest" => IngestRun.run(a, spans, res)
    }
    res("rss_hwm_kb") = rssHwmKb()
    res("harness_s") = secs(a.start)
    spark.stop()
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    json.writeValue(new java.io.File(a("out")), res)
  }
}
