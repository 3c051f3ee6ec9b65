package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.core.{Snapshot, Tables}
import graft.queries.Ingestion
import graft.sources.Ingest
import graft.streaming.{LifecycleGate, StatusListener, StreamOps, StreamingStatusListener}

/** The ingest/publish workload: the reference's write path driven cycle by
  * cycle on the driver thread.
  *
  * A cycle delivers the arrivals that are due (a clean file is announced by
  * a notification manifest; a file carrying malformed lines is dropped into
  * the quarantine inbox), then runs, in order:
  *   - `drain`: `StreamOps.runNotifiedLoad` of the queue into the `_src` store,
  *   - `quarantine`: `StreamOps.runQuarantineSplit` of the inbox,
  *   - `publish`: both of the above run inside `LifecycleGate.gatedPublish`,
  *     which publishes an aggregate over the store as the next Snapshot
  *     version only if the drain's status records are clean,
  *   - `compact`: `StreamOps.compactStore`, every `compact_every` cycles,
  *   - `upsert`: `Ingest.JdbcUpsertWriter` of the cycle's files into Derby,
  *   - `read_store`, `read_snapshot`: full scans of the store and Snapshot.
  *
  * Round 0 is the backlog drain (every backlog file at once, catch-up after
  * an outage); the following rounds are the open-loop arrival phase, one
  * arrival every `1/rate` seconds, each cycle taking what is due. */
object IngestRun {
  final case class Arrival(idx: Int, path: String, dirty: Boolean,
                           backlog: Boolean, manifest: Seq[String])

  private def plan(path: String): Seq[Arrival] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    root.elements().asScala.zipWithIndex.map { case (n, i) =>
      Arrival(i, n.get("path").asText(), n.get("dirty").asBoolean(),
        n.get("backlog").asBoolean(), n.get("notify").elements().asScala.map(_.asText()).toSeq)
    }.toSeq
  }

  val corruptCol = "_corrupt_record"
  val rawSchema: StructType =
    StructType(Ingestion.csvSchema.fields :+ StructField(corruptCol, StringType))

  /** The store paths one cycle sequence writes to. */
  final class Dirs(root: String) {
    val store = s"$root/store"
    val loadCkpt = s"$root/ckpt_load"
    val queue = s"$root/queue"
    val inbox = s"$root/inbox"
    val qClean = s"$root/q_clean"
    val qBad = s"$root/q_bad"
    val qCkpt = s"$root/ckpt_quarantine"
    val snap = s"$root/snapshot"
    val target = Ingest.JdbcTarget(
      url = s"jdbc:derby:$root/derby;create=true", table = "arrivals",
      driver = "org.apache.derby.jdbc.EmbeddedDriver")
    Seq(queue, inbox, snap).foreach(d => Files.createDirectories(Paths.get(d)))
  }

  /** Everything that has landed: the `_src` store plus the clean rows the
    * quarantine split kept from files that carried malformed lines. */
  def landed(spark: SparkSession, d: Dirs): DataFrame = {
    val store = StreamOps.readStore(spark, d.store).drop("_src")
    // The split writes batch-keyed partitions with dynamic overwrite, which
    // leaves no _SUCCESS marker: the store exists once a partition does.
    val qc = Paths.get(d.qClean)
    if (Files.isDirectory(qc) && Files.list(qc).iterator().asScala
          .exists(_.getFileName.toString.startsWith("batch_id=")))
      store.unionByName(spark.read.parquet(d.qClean).drop("batch_id"))
    else store
  }

  /** The published aggregate: rows and exact price sum per (qty, ship year). */
  def aggregate(spark: SparkSession, d: Dirs): DataFrame =
    landed(spark, d).groupBy(col("qty"), year(col("ship_date")).as("ship_year"))
      .agg(count(lit(1)).as("n"), Tables.dsumS(col("price")).as("price_sum"))

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The parquet data files under `dir` (markers and hidden files excluded). */
  private def dataFiles(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala.filter { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
    }.toSeq
  }

  /** Bytes of the store's current version. */
  private def liveBytes(spark: SparkSession, store: String): Long =
    dataFiles(StreamOps.storeDataDir(spark, store)).map(Files.size).sum

  def run(a: Harness.Args, spans: Spans, res: Harness.Result): SparkSession = {
    val arrivals = plan(a("plan"))
    val rate = a("rate").toDouble
    val compactEvery = a("compact_every").toInt
    val setupS, sessionS = ArrayBuffer[Double]()
    var spark: SparkSession = null
    var d: Dirs = null
    spans.round = -1
    val warmFile = arrivals.find(f => !f.dirty && f.backlog).get
    for (rep <- 0 until a.reps) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = spans("session", "core")(Harness.session(a))
      sessionS += Harness.secs(t0)
      // Warm-up: one throwaway cycle over a copy of one backlog file, into
      // the repetition's own store, snapshot and Derby database (created
      // here; the last repetition's are the ones the run then uses).
      d = new Dirs(s"${a.work}/ingest$rep")
      val warm = new Dirs(s"${a.work}/warm$rep")
      spans("warm_up", "core") {
        Files.writeString(Paths.get(warm.queue, "n.txt"), warmFile.path + "\n")
        LifecycleGate.gatedPublish(spark, aggregate(spark, warm), warm.snap) {
          StreamOps.runNotifiedLoad(spark, warm.queue, Ingestion.csvSchema,
            warm.store, warm.loadCkpt, format = "csv")
        }
        Seq(warm, d).foreach { x =>
          new Ingest.JdbcWarehouseWriter(x.target).write(
            spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              Ingestion.csvSchema), SaveMode.Overwrite)
        }
        noop(Snapshot.read(spark, warm.snap))
      }
      Harness.epilogue(spark)
      setupS += Harness.secs(t0)
    }
    res("setup_s") = setupS
    res("session_s") = sessionS
    res("setup_end_s") = Harness.secs(a.start)

    val census = if (a.trace) Some(new Census(spark)) else None
    census.foreach(_.attach())
    // Traced runs also count the engine's own status records, which should
    // stay in step with the operations run.
    val status = if (a.trace) Some((StatusListener.attach(spark), new StreamingStatusListener)) else None
    status.foreach { case (_, st) => spark.streams.addListener(st) }
    val samples = LinkedHashMap[String, ArrayBuffer[(Int, Double)]]()
    val failures = LinkedHashMap[String, String]()
    val rounds = ArrayBuffer[(Int, Double, Double)]()
    val ops = ArrayBuffer[(Int, Double, Double)]()
    val fresh = ArrayBuffer[(Int, Double)]()
    val late = ArrayBuffer[Double]()
    val compactedBytes = ArrayBuffer[Long]()
    val cycles = ArrayBuffer[Map[String, Any]]()
    var attempted = 0
    var released = 0

    def op[T](round: Int, name: String, layer: String)(body: => T): Option[T] = {
      attempted += 1
      val t0 = System.nanoTime()
      val r =
        try Some(spans(name, layer)(body))
        catch { case e: Throwable =>
          failures.getOrElseUpdate(s"$name@$round",
            s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
          None
        }
      val t1 = System.nanoTime()
      ops += ((round, Clock.ms(t0), Clock.ms(t1)))
      samples.getOrElseUpdate(name, ArrayBuffer()) += ((round, (t1 - t0) / 1e9))
      r
    }

    /** One cycle over `due`; `sched` gives each arrival's scheduled time. */
    def cycle(round: Int, due: Seq[Arrival], sched: Arrival => Long): Unit = {
      spans.round = round
      val rStart = Clock.nowMs
      spans("cycle", "harness") {
        val delivered = System.nanoTime()
        due.foreach { f =>
          late += (delivered - sched(f)) / 1e9
          if (f.dirty) Files.copy(Paths.get(f.path), Paths.get(d.inbox, f"drop_${f.idx}%04d.csv"))
          else Files.writeString(Paths.get(d.queue, f"n_${f.idx}%04d.txt"),
            f.manifest.mkString("", "\n", "\n"))
        }
        var drainEnd, quarEnd = 0L
        var drainS, quarS = 0.0
        var workFailed = false
        attempted += 1
        val p0 = System.nanoTime()
        val v = spans("publish", "core") {
          LifecycleGate.gatedPublish(spark, aggregate(spark, d), d.snap) {
            val t0 = System.nanoTime()
            if (op(round, "drain", "streaming") {
              StreamOps.runNotifiedLoad(spark, d.queue, Ingestion.csvSchema,
                d.store, d.loadCkpt, format = "csv")
            }.isEmpty) workFailed = true
            drainEnd = System.nanoTime(); drainS = (drainEnd - t0) / 1e9
            if (op(round, "quarantine", "streaming") {
              StreamOps.runQuarantineSplit(StreamOps.csvFileSource(spark, d.inbox, rawSchema),
                corruptCol, d.qClean, d.qBad, d.qCkpt)
            }.isEmpty) workFailed = true
            quarEnd = System.nanoTime(); quarS = (quarEnd - drainEnd) / 1e9
          }
        }
        val p1 = System.nanoTime()
        ops += ((round, Clock.ms(p0), Clock.ms(p1)))
        samples.getOrElseUpdate("publish", ArrayBuffer()) +=
          ((round, (p1 - p0) / 1e9 - drainS - quarS))
        if (v.isDefined) released += 1
        else failures.getOrElseUpdate(s"publish@$round",
          if (workFailed) "gate held: the cycle's load failed" else "gate held a clean cycle")
        due.foreach(f => fresh += ((f.idx, ((if (f.dirty) quarEnd else drainEnd) - sched(f)) / 1e9)))
        if (round > 0 && round % compactEvery == 0) {
          compactedBytes += liveBytes(spark, d.store)
          op(round, "compact", "streaming")(StreamOps.compactStore(spark, d.store, Seq("id"), Seq("_src")))
        }
        val paths = due.filterNot(_.dirty).flatMap(_.manifest).distinct
        if (paths.nonEmpty) op(round, "upsert", "sources") {
          new Ingest.JdbcUpsertWriter(d.target, Seq("id")).upsert(
            spark.read.schema(Ingestion.csvSchema).option("header", true)
              .option("escape", "\"").csv(paths: _*))
        }
        op(round, "read_store", "streaming")(noop(StreamOps.readStore(spark, d.store)))
        op(round, "read_snapshot", "core")(noop(Snapshot.read(spark, d.snap)))
        cycles += Map("round" -> round, "files" -> due.map(_.idx), "version" -> v)
      }
      census.foreach(_.endRound(round))
      rounds += ((round, rStart, Clock.nowMs))
    }

    // Round 0: the backlog, all of it due at once.
    val backlog = arrivals.filter(_.backlog)
    val b0 = System.nanoTime()
    cycle(0, backlog, _ => b0)
    res("backlog_files") = backlog.map(_.idx)
    // Open-loop arrival phase: arrival k is due at start + (k+1)/rate,
    // whatever the cycles before it cost; it runs until the measuring time,
    // counted from the end of the backlog drain, is spent (and at least
    // until the third compaction) or the planned arrivals run out.
    val live = arrivals.filterNot(_.backlog)
    val start = System.nanoTime()
    val step = (1e9 / rate).toLong
    def due(k: Int): Long = start + (k + 1) * step
    val deadline = start + (a.seconds * 1e9).toLong
    val minArrivalCycles = 3 * compactEvery
    val schedOf = live.zipWithIndex.map { case (f, k) => f.idx -> due(k) }.toMap
    var next = 0
    var round = 1
    while (next < live.size && (round <= minArrivalCycles || due(next) <= deadline)) {
      val wait = due(next) - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      val now = System.nanoTime()
      val batch = live.drop(next).takeWhile(f => schedOf(f.idx) <= now)
      next += batch.size
      cycle(round, batch, f => schedOf(f.idx))
      round += 1
    }
    spans.round = -1
    res("rounds") = round
    res("arrived_files") = (backlog ++ live.take(next)).map(_.idx)
    res("samples") = samples.map { case (k, v) => k -> v.map { case (r, t) => Seq(r, t) } }
    res("freshness") = fresh.map { case (i, s) => Seq(i, s) }
    res("cycles") = cycles
    res("released") = released
    res("attempted") = attempted
    res("store_versions") = Files.list(Paths.get(d.store)).iterator().asScala
      .count(_.getFileName.toString.startsWith("v="))
    val files = Seq(StreamOps.storeDataDir(spark, d.store), d.qClean).flatMap(dataFiles)
    res("store_files") = files.size
    res("store_bytes") = files.map(Files.size).sum
    res("generator_late_s") = late
    res("compacted_bytes") = compactedBytes
    status.foreach { case (b, st) =>
      LifecycleGate.flushListenerBus(spark)
      spark.listenerManager.unregister(b)
      spark.streams.removeListener(st)
      res("status_records") = b.statuses.size + st.statuses.size
    }
    census.foreach(c => Harness.traced(spark, a, spans, c, rounds.toSeq, ops.toSeq, res))

    // Untimed dumps for the DuckDB ground-truth check.
    val out = s"${a.work}/out"
    def dump(name: String, df: => DataFrame): Unit =
      try df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      catch { case e: Throwable =>
        failures.getOrElseUpdate(s"dump:$name", s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
      }
    dump("store", StreamOps.readStore(spark, d.store))
    dump("q_clean", spark.read.parquet(d.qClean))
    dump("q_bad", spark.read.parquet(d.qBad))
    dump("snapshot", Snapshot.read(spark, d.snap))
    dump("target", Ingest.jdbcRead(spark, d.target).load())
    res("failures") = failures
    spark
  }
}
