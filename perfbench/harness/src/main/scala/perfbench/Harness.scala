package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{FutureTask, TimeUnit, TimeoutException}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import graft.{GraftSession, SparkEntry}
import graft.operators.InvertedIndex
import graft.sources.ClusteredParquet
import org.apache.spark.graft.SparkInternals

/** One benchmark run in one JVM: start a session, run one untimed pass
  * that dumps every op's result for the correctness check, then timed
  * passes over the workload's ops until the run's seconds are spent and
  * at least two have run (three in a traced run, whose middle pass is
  * traced between two untraced neighbours). Writes everything it
  * measured as one JSON record; `perfbench/run.py` turns that into
  * metrics.
  *
  * Each op is timed from outside, around public calls: the builder
  * (`build`), `df.queryExecution.executedPlan` (`plan`), and the
  * materialising action (`exec`), which runs the already planned query
  * under its own SQL execution and counts its rows. Traced passes
  * attach Spark's listeners and record spans; untraced passes do not.
  *
  * Each op and pass also records the share of CPU time the hypervisor
  * stole while it ran (from /proc/stat), so that run.py can leave out
  * samples taken under steal.
  */
object Harness {
  /** An op still running after this long has failed. */
  val CeilingSec = 60L

  sealed trait Kind
  final case class Query(build: () => DataFrame) extends Kind
  final case class Action(run: () => Unit) extends Kind
  final case class Op(name: String, kind: Kind, dump: String => Unit)

  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long,
                        counters: Map[String, Double] = Map.empty) {
    def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent, "name" -> name,
      "start_ns" -> start, "end_ns" -> end, "counters" -> counters)
  }

  private val baseNano = System.nanoTime()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  /** Epoch nanoseconds on a monotonic clock, comparable with the
    * millisecond epoch stamps in Spark's listener events. */
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)

  private def secs(ns: Long): Double = ns / 1e9

  /** (steal, total) jiffies of all CPUs so far; zeros where /proc/stat
    * is not readable. */
  def cpuTicks(): (Long, Long) = scala.util.Try {
    val t = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1)
      .map(_.toLong)
    (t(7), t.sum)
  }.getOrElse((0L, 0L))

  /** Share of CPU time stolen between two cpuTicks() readings. */
  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = args("data")
    val work = args("work")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val minPasses = if (traced) 3 else 2
    val entries = args.getOrElse("entries", "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val refInput = args.getOrElse("ref-input", s"$data/documents.parquet")
    val refFiles = args.getOrElse("ref-files", "4").toInt

    val jvmStartNs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
    val s0 = now()
    val spark = GraftSession.builder(Some("local[4]"), Some("4"))
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionStart = now() - s0

    val catalog = SparkEntry.queries
    val rng = new scala.util.Random(seed)

    // the documents table the reference ops run over, ids 0 until refN
    val staged = refInput
    val refN = spark.read.parquet(staged).count()
    val ids: Seq[Long] = {
      val picked = scala.collection.mutable.LinkedHashSet.empty[Long]
      while (picked.size < math.min(100L, refN)) picked += (rng.nextDouble() * refN).toLong
      picked.toSeq
    }
    val clustered = s"$work/clustered"
    def table(): DataFrame = spark.read.parquet(clustered)
    def dumpDf(df: DataFrame, dir: String): Unit =
      df.repartition(1).write.mode("overwrite").parquet(dir)
    def isSorted = (col("doc_ids") === array_sort(col("doc_ids"))).as("sorted")
    val refOps: Seq[Op] = Seq(
      Op("r7_clustered_write", Action(() =>
        ClusteredParquet.write(spark.read.parquet(staged), clustered, numFiles = refFiles)), _ =>
        ClusteredParquet.write(spark.read.parquet(staged), clustered, numFiles = refFiles)),
      Op("r1_field_values", Query(() => InvertedIndex.fieldValues(table(), "lang")), dir =>
        dumpDf(InvertedIndex.fieldValues(table(), "lang").select(col("value"), col("n_docs"),
          size(col("doc_ids")).as("n_ids"), isSorted), dir)),
      Op("r1_chunked", Query(() =>
        InvertedIndex.fieldValuesChunked(table(), "source", chunkSize = 1 << 20)), dir =>
        dumpDf(InvertedIndex.fieldValuesChunked(table(), "source", chunkSize = 1 << 20)
          .select(col("value"), col("chunk"), col("n_docs"),
            size(col("doc_ids")).as("n_ids"), isSorted), dir)),
      Op("r2_values_by_ids", Query(() =>
        InvertedIndex.fieldValuesByDocIds(table(), "source", ids)), dir =>
        dumpDf(InvertedIndex.fieldValuesByDocIds(table(), "source", ids), dir)),
      Op("r3_numeric_stats", Query(() => InvertedIndex.numericStats(table(), "n_chars")), dir =>
        dumpDf(InvertedIndex.numericStats(table(), "n_chars"), dir)),
      Op("r4_stats_by_ids", Query(() =>
        InvertedIndex.numericStatsByDocIds(table(), "n_chars", ids)), dir =>
        dumpDf(InvertedIndex.numericStatsByDocIds(table(), "n_chars", ids), dir)),
      Op("r8_point_lookup", Query(() => ClusteredParquet.pointLookup(spark, clustered, ids)), dir =>
        dumpDf(ClusteredParquet.pointLookup(spark, clustered, ids).select(col("doc_id")), dir)))
    val entryOps: Seq[Op] = entries.map { n =>
      val build = catalog(n)
      Op(n, Query(() => build(spark, data)), dir => dumpDf(build(spark, data), dir))
    }
    /** A pass: the entries in a seed-shuffled order, then R7, then the
      * reference reads over the table R7 wrote. */
    def passOps(pass: Int): Seq[Op] =
      new scala.util.Random(seed * 1000003L + pass).shuffle(entryOps) ++ refOps

    val tracer = new Tracer(spark)
    val sc = spark.sparkContext

    /** Runs one op on its own thread under the ceiling; returns the op
      * record and the op's spans (root first). */
    def runOp(op: Op, dump: Boolean): (Map[String, Any], Seq[Span]) = {
      val marks = Array.fill(5)(0L) // thread start, built, planned, executed, rows
      val group = s"perfbench-${op.name}"
      val task = new FutureTask[Unit](() => {
        sc.setJobGroup(group, op.name, interruptOnCancel = true)
        try {
          marks(0) = now()
          if (dump) {
            op.dump(s"$work/results/${op.name}")
            marks(1) = marks(0); marks(2) = marks(0); marks(3) = now(); marks(4) = -1
          } else op.kind match {
            case Query(build) =>
              val df = build()
              marks(1) = now()
              val qe = df.queryExecution
              qe.executedPlan
              marks(2) = now()
              marks(4) = SQLExecution.withNewExecutionId(qe, Some(op.name))(qe.toRdd.count())
              marks(3) = now()
            case Action(run) =>
              marks(1) = now(); marks(2) = marks(1)
              run()
              marks(3) = now(); marks(4) = -1
          }
        } finally sc.clearJobGroup()
      })
      val th = new Thread(task, group)
      th.setDaemon(true)
      val ticks0 = cpuTicks()
      val t0 = now()
      th.start()
      var timeout = false
      var error: String = null
      try task.get(CeilingSec, TimeUnit.SECONDS)
      catch {
        case _: TimeoutException =>
          timeout = true
          error = s"exceeded the ${CeilingSec}s ceiling"
          sc.cancelJobGroup(group)
          task.cancel(true)
          try task.get(30, TimeUnit.SECONDS) catch { case _: Throwable => () }
        case e: Throwable =>
          val cause = Option(e.getCause).getOrElse(e)
          error = s"${cause.getClass.getSimpleName}: ${cause.getMessage}".take(500)
      }
      val end = now()
      val steal = stealShare(ticks0, cpuTicks())
      val ok = error == null
      val rec = Map[String, Any]("op" -> op.name, "ok" -> ok, "timeout" -> timeout,
        "error" -> Option(error), "wall_s" -> secs(end - t0), "steal" -> steal,
        "build_s" -> (if (ok) secs(marks(1) - marks(0)) else null),
        "plan_s" -> (if (ok) secs(marks(2) - marks(1)) else null),
        "exec_s" -> (if (ok) secs(marks(3) - marks(2)) else null),
        "rows" -> (if (ok && marks(4) >= 0) marks(4) else null))
      val spans =
        if (!ok) Seq(Span(0, -1, op.name, t0, end))
        else Seq(Span(0, -1, op.name, t0, end), Span(1, 0, "build", marks(0), marks(1)),
          Span(2, 0, "plan", marks(1), marks(2)), Span(3, 0, "exec", marks(2), marks(3)))
      (rec, spans)
    }

    /** Children of the build / plan / exec spans: each job goes under the
      * phase its start falls in (listener stamps are whole
      * milliseconds), each stage under its job. Counters: task totals on
      * stages, scan / write / streaming counters on the op. */
    def attach(spans: Seq[Span], ev: Events, rows: Option[Long]): Seq[Span] = {
      val phases = spans.drop(1)
      var next = spans.size
      val children = ev.jobs.sortBy(_.startMs).flatMap { j =>
        val startNs = j.startMs * 1000000L
        val phase = phases.filter(_.start <= startNs + 1000000L).lastOption
          .orElse(phases.headOption).map(_.id).getOrElse(0)
        val jobId = next; next += 1
        val job = Span(jobId, phase, s"job ${j.id}", startNs, j.endMs * 1000000L)
        job +: j.stageIds.flatMap(ev.stages.get).map { s =>
          val sid = next; next += 1
          Span(sid, jobId, s"stage ${s.stageId}", s.submitMs * 1000000L, s.completeMs * 1000000L,
            Map("tasks" -> s.tasks.toDouble, "busy_s" -> s.runMs / 1e3,
              "sched_delay_s" -> s.schedMs / 1e3, "gc_s" -> s.gcMs / 1e3,
              "shuffle_read_mb" -> s.shuffleRead / 1048576.0,
              "shuffle_write_mb" -> s.shuffleWrite / 1048576.0,
              "spill_mb" -> s.spill / 1048576.0, "peak_exec_mem_mb" -> s.peakMem / 1048576.0))
        }
      }
      val q = ev.queries
      val opCounters = Map[String, Double](
        "scan.rows" -> q.map(_.scanRows).sum.toDouble,
        "scan.files" -> q.map(_.scanFiles).sum.toDouble,
        "scan.bytes" -> q.map(_.scanBytes).sum.toDouble,
        "write.rows" -> q.map(_.writeRows).sum.toDouble,
        "write.bytes" -> q.map(_.writeBytes).sum.toDouble,
        "write.files" -> q.map(_.writeFiles).sum.toDouble,
        "stream.batches" -> ev.batches.size.toDouble,
        "stream.batch_plan_s" -> ev.batches.map(_.planMs).sum / 1e3,
        "stream.batch_s" -> ev.batches.map(_.triggerMs).sum / 1e3) ++
        rows.map(r => "result.rows" -> r.toDouble)
      (spans.head.copy(counters = opCounters) +: phases) ++ children
    }

    def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

    // ---- untimed: one pass that dumps every result to check ----
    val d0 = now()
    val dumpRecs = passOps(-1).map(op => runOp(op, dump = true)._1)
    val dumpNs = now() - d0

    // ---- timed passes ----
    val firstTimed = now()
    val deadline = firstTimed + (seconds * 1e9).toLong
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val passWalls = scala.collection.mutable.ArrayBuffer.empty[Long]
    var p = 0
    def more: Boolean = {
      val sorted = passWalls.sorted
      val typical = if (sorted.isEmpty) 0L else sorted(sorted.size / 2)
      p < minPasses || now() + typical / 2 < deadline
    }
    while (more) {
      val tracedPass = traced && p % 2 == 1
      if (tracedPass) { SparkInternals.waitListenerBusEmpty(sc); tracer.attach() }
      val g0 = gcMs()
      val ticks0 = cpuTicks()
      val p0 = now()
      val ops = passOps(p).map { op =>
        val (rec, spans) = runOp(op, dump = false)
        if (!tracedPass) rec
        else {
          SparkInternals.waitListenerBusEmpty(sc)
          val rows = rec("rows") match { case r: Long => Some(r); case _ => None }
          rec + ("spans" -> attach(spans, tracer.take(), rows).map(_.toMap))
        }
      }
      val wall = now() - p0
      val steal = stealShare(ticks0, cpuTicks())
      if (tracedPass) tracer.detach()
      passWalls += wall
      passes += Map("pass" -> p, "traced" -> tracedPass, "wall_s" -> secs(wall),
        "steal" -> steal, "gc_s" -> (gcMs() - g0) / 1e3, "ops" -> ops)
      p += 1
    }

    val rssMb = scala.util.Try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).get
    }.toOption
    val oracle = entries.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    val record = Map[String, Any](
      "seed" -> seed, "traced" -> traced,
      "setup_s" -> secs(firstTimed - jvmStartNs),
      "session_start_s" -> secs(sessionStart),
      "dump_s" -> secs(dumpNs), "staged" -> staged, "clustered" -> clustered,
      "ref_rows" -> refN, "ids" -> ids, "oracle" -> oracle, "dump" -> dumpRecs,
      "passes" -> passes, "peak_rss_mb" -> rssMb)
    Files.writeString(Paths.get(args("out")), Json(record))
    spark.stop()
  }
}
