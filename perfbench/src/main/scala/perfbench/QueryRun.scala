package perfbench

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.{Tables, Warehouse}
import graft.queries._

/** Query workloads: set up (session, table warm-up, the Warehouse builds
  * the workload's queries consume); the session start and warm-up are
  * repeated `reps` times and the last session is kept;
  * then run whole rounds of the workload's queries in a seeded order until
  * the measuring time is spent (at least `min_rounds` rounds, the cold one
  * included).
  * The cold round writes each query's result for the DuckDB check. */
object QueryRun {
  val modules: Seq[(String, Set[String])] = Seq(
    "Relational" -> Relational.all.keySet, "Scalars" -> Scalars.all.keySet,
    "LlmOps" -> LlmOps.all.keySet, "Events" -> Events.all.keySet,
    "Ingestion" -> Ingestion.all.keySet, "Pruning" -> Pruning.all.keySet,
    "Stats" -> Stats.all.keySet, "Analytics" -> Analytics.all.keySet,
    "Eval" -> Eval.all.keySet)

  def moduleOf(q: String): String = modules.find(_._2.contains(q)).map(_._1).getOrElse("?")

  val prebuilds: Map[String, (SparkSession, String) => Unit] =
    (Relational.prebuilds ++ Events.prebuilds ++ Ingestion.prebuilds ++
      Pruning.prebuilds ++ LlmOps.prebuilds).toMap

  /** `graft.Bench`'s untimed warm-up: one small action per table family. */
  def warmUp(spark: SparkSession, dir: String): Unit = {
    spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(col("l_returnflag")).agg(count(col("l_orderkey")))
      .write.format("noop").mode("overwrite").save()
    spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"),
        regexp_count(col("text"), lit("[a-z]+")).as("n"))
      .groupBy(col("w")).agg(sum(col("n")))
      .write.format("noop").mode("overwrite").save()
    Tables.load(spark, dir, "events")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("ts"))))
      .groupBy(col("event_type")).agg(count(col("rn")))
      .write.format("noop").mode("overwrite").save()
  }

  private def buildLedger(): Map[String, Double] = {
    val m = scala.collection.mutable.Map[String, Double]()
    Warehouse.buildSecs.forEach((k, v) => m(k) = v)
    m.toMap
  }

  def run(a: Harness.Args, spans: Spans, res: Harness.Result): SparkSession = {
    val names = a.list("queries")
    val builds = a.list("prebuilds")
    val dir = a.data
    val sessionS, warmS = ArrayBuffer[Double]()
    var spark: SparkSession = null
    spans.round = -1
    for (_ <- 0 until a.reps) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = spans("session", "core")(Harness.session(a))
      sessionS += Harness.secs(t0)
      val t1 = System.nanoTime()
      spans("warm_up", "core")(warmUp(spark, dir))
      warmS += Harness.secs(t1)
    }
    // The Warehouse builds are forced once, on the last session: they are
    // memoized per process and source directory, and a build is seconds
    // of the run where a session start is a fraction of one.
    val t2 = System.nanoTime()
    builds.foreach(b => spans(s"build:$b", "core")(prebuilds(b)(spark, dir)))
    Harness.epilogue(spark)
    res("session_s") = sessionS
    res("warm_up_s") = warmS
    res("warehouse_build_s") = Harness.secs(t2)
    res("warehouse_builds") = builds.size
    res("setup_end_s") = Harness.secs(a.start)

    val census = if (a.trace) Some(new Census(spark)) else None
    census.foreach(_.attach())
    val all = SparkEntry.queries
    val fns = names.map(n => n -> all(n))
    val rnd = new scala.util.Random(a.seed)
    val samples = LinkedHashMap(names.map(_ -> ArrayBuffer[Double]()): _*)
    val buildTimes = LinkedHashMap(names.map(_ -> ArrayBuffer[Double]()): _*)
    val failures = LinkedHashMap[String, String]()
    val rounds = ArrayBuffer[(Int, Double, Double)]()
    val ops = ArrayBuffer[(Int, Double, Double)]()
    var inSampleBuilds = 0
    val outDir = s"${a.work}/out"
    // The measuring time is the steady phase: it starts when the cold round
    // ends, so the steady sample count does not hang on the cold round's cost.
    var deadline = Long.MaxValue
    var round = 0
    while (round < a.minRounds || System.nanoTime() < deadline) {
      spans.round = round
      val rStart = Clock.nowMs
      spans(s"round", "harness") {
        rnd.shuffle(fns).foreach { case (n, fn) =>
          val ledger = buildLedger()
          val t0 = System.nanoTime()
          var tb = 0.0
          spans(n, "harness") {
            try {
              val df = spans("build", s"queries.${moduleOf(n)}") {
                val tb0 = System.nanoTime(); val d = fn(spark, dir); tb = Harness.secs(tb0); d
              }
              // The cold execution writes the result for the DuckDB check;
              // steady executions feed the noop sink, as graft.Bench does.
              val w = df.write.mode("overwrite")
              spans("execute", "spark") {
                if (round == 0) w.parquet(s"$outDir/$n") else w.format("noop").save()
              }
            } catch { case e: Throwable =>
              failures.getOrElseUpdate(n, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
            }
          }
          val t1 = System.nanoTime()
          ops += ((round, Clock.ms(t0), Clock.ms(t1)))
          samples(n) += (t1 - t0) / 1e9
          buildTimes(n) += tb
          Harness.epilogue(spark)
          if (buildLedger() != ledger) inSampleBuilds += 1
        }
      }
      census.foreach(_.endRound(round))
      rounds += ((round, rStart, Clock.nowMs))
      if (round == 0) deadline = System.nanoTime() + (a.seconds * 1e9).toLong
      round += 1
    }
    res("rounds") = round
    res("queries") = names
    res("modules") = names.map(n => n -> moduleOf(n)).toMap
    res("samples") = samples
    res("build_s") = buildTimes
    res("builds_in_samples") = inSampleBuilds
    spans.round = -1
    census.foreach(c => Harness.traced(spark, a, spans, c, rounds.toSeq, ops.toSeq, res))

    res("failures") = failures
    res("oracle_sql") = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    spark
  }
}
