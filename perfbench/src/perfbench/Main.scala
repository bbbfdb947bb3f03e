package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The repository benchmark: one workload per run, closed loop, one job at
  * a time, in one JVM with `local[cores]`.
  *
  *   bulk_annotate  a fresh `Pipeline.run` over a generated corpus and
  *                  ontology
  *   dict_refresh   `Pipeline.runIncremental` of a ~1 % dictionary release
  *                  on the v1 work dir completed during set-up
  *   kg_analytics   the graph-release job: components, directed PageRank
  *                  and coreness of an R-MAT page graph, one TransE step
  *
  * `--trace 0` reports end-to-end metrics, measured with tracing off.
  * `--trace 1` alternates untraced jobs with a traced composition of the
  * same job from the modules' public calls (a span per call, each layer's
  * output forced inside its span) and reports per-layer numbers; the
  * composition must reproduce the untraced output exactly.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --work DIR --report DIR --result FILE
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val (name, seed, seconds) = (arg("workload"), arg("seed").toLong, arg("seconds").toDouble)
    val tracing = arg("trace") == "1"
    val work = Paths.get(arg("work"))
    val workload: Workload = name match {
      case "annotate_refresh" => new AnnotateRefresh(seed)
      case "kg_analytics" => new KgAnalytics(seed)
      case w => sys.error(s"unknown workload $w")
    }
    Files.createDirectories(work)

    // input generation is the benchmark's own work, not set-up; a second
    // generation, on a spare thread, shows that the seed alone fixes the
    // inputs
    val (digest, genS) = Util.timed(workload.generate())
    println(f"inputs: seed $seed digest $digest, generated in $genS%.3f s")
    val again = new java.util.concurrent.FutureTask[String](() => workload.regenerate())
    new Thread(again).start()

    val t0 = System.nanoTime()
    val spark = Util.session(work)
    val trace = new Trace(spark.sparkContext)
    spark.sparkContext.addSparkListener(trace)
    val sessionNs = System.nanoTime() - t0
    try {
      val ctx = new Ctx(spark, trace, work)
      workload.write(ctx)
      println(f"[${Util.clock()}%.1f] inputs written")
      val t1 = System.nanoTime()
      workload.setup(ctx)
      val setupS = (sessionNs + System.nanoTime() - t1) / 1e9
      println(f"[${Util.clock()}%.1f] setup: ${setupS}%.3f s (session ${sessionNs / 1e9}%.3f s)")

      val run = new Run(ctx, workload, tracing)
      run.attempt("input generation", if (again.get == digest) Nil
        else Vector(s"same seed gave digest ${again.get}"))
      run.loop(seconds)
      println(f"[${Util.clock()}%.1f] jobs done")
      workload.traffic(ctx).foreach { case (k, v) => println(s"traffic: $k = $v") }
      println(f"[${Util.clock()}%.1f] traffic counted")
      val metrics =
        if (tracing) run.perLayer(Paths.get(arg("report")).resolve(s"$name-seed$seed.json"))
        else run.endToEnd(setupS)
      Files.write(Paths.get(arg("result")),
        Util.result(run.failed == 0, run.attempted, run.failed, metrics).getBytes("UTF-8"))
    } finally spark.stop()
  }
}

/** Session, listener and scratch space shared by a run's jobs. */
final class Ctx(val spark: SparkSession, val trace: Trace, val work: Path) {
  def dir(name: String): String = work.resolve(name).toString
  val cores: Int = spark.sparkContext.defaultParallelism

  /** Releases what a finished job left resident (the program does not
    * unpersist its local checkpoints), so that jobs stay independent. */
  def release(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    System.gc()
  }
}

/** One job's outcome: wall time, the output tables it wrote, the
  * directories to remove before the next job, and named step times. */
final case class JobOut(wallS: Double, outputs: Seq[String], scratch: Seq[String],
                        steps: Seq[(String, Double)] = Nil)

trait Workload {
  /** Builds the inputs in memory; returns their digest. */
  def generate(): String
  /** Builds the inputs again, without keeping them; returns their digest. */
  def regenerate(): String
  /** Writes the inputs where the program reads them. */
  def write(ctx: Ctx): Unit
  /** Program calls that precede the timed region. */
  def setup(ctx: Ctx): Unit
  /** Documents (for the graph job: pages) one job covers. */
  def docs: Long
  /** Timed jobs the loop runs at least, for a steady median. */
  def minJobs: Int = 1
  def job(ctx: Ctx, dir: String): JobOut
  /** The same job composed from module calls, one span per layer. */
  def traced(ctx: Ctx, dir: String): JobOut
  /** Checks one job's output against the independent reference. */
  def check(ctx: Ctx, out: JobOut): Seq[String]
  /** Layer counts read back from a traced job's output. */
  def layerCounts(ctx: Ctx, out: JobOut): Unit = ()
  /** The load the run produced, for the record. */
  def traffic(ctx: Ctx): Seq[(String, String)]
}

/** The closed loop: untraced jobs, alternating with traced compositions
  * when tracing, until the time is up. Every job's output is fingerprinted
  * and must match the first job's; the first job is also checked against
  * the reference. */
final class Run(ctx: Ctx, w: Workload, tracing: Boolean) {
  var attempted = 0
  var failed = 0
  /** Untraced jobs: wall seconds, storage peak MB, output bytes per row. */
  private val jobs = mutable.ArrayBuffer.empty[(Double, Double, Double)]
  private val tracedRows = mutable.ArrayBuffer.empty[Map[String, Double]]
  private val tracedLayers = mutable.ArrayBuffer.empty[(Double, Map[String, LayerStats])]
  private var first: Option[(Long, String)] = None

  def attempt(what: String, errors: Seq[String]): Unit = {
    attempted += 1
    if (errors.nonEmpty) failed += 1
    errors.foreach(e => println(s"FAILED $what: $e"))
  }

  /** Output rows, and a failure if the output differs from the first
    * job's. */
  private def fingerprint(out: JobOut): (Long, Seq[String]) = {
    val fp = out.outputs.map(o => Check.fingerprint(ctx.spark.read.parquet(o)))
    val (rows, digest) = (fp.map(_._1).sum, fp.map(_._2).mkString(":"))
    first match {
      case None =>
        first = Some((rows, digest))
        println(s"output: $rows rows, digest $digest")
        (rows, Nil)
      case Some((r0, d0)) if r0 == rows && d0 == digest => (rows, Nil)
      case Some((r0, d0)) =>
        (rows, Vector(s"output $rows rows / $digest differs from the first job's $r0 / $d0"))
    }
  }

  private def once(traced: Boolean): Unit = {
    val what = if (traced) "traced job" else "job"
    val dir = ctx.dir(s"job-$attempted")
    ctx.release()
    ctx.trace.reset()
    ctx.trace.storageMark()
    val res =
      try Right(if (traced) ctx.trace.span(Trace.Outside)(w.traced(ctx, dir)) else w.job(ctx, dir))
      catch { case e: Exception => Left(e) }
    val storageMb = ctx.trace.storagePeakSinceMark() / 1e6
    res match {
      case Left(e) =>
        e.printStackTrace()
        attempt(what, Vector(e.toString))
      case Right(out) =>
        val layers = ctx.trace.layers.toMap
        val row = if (traced) Some(layerRow(out, layers)) else None
        val checkFirst = !traced && jobs.isEmpty
        val rows = ctx.trace.span(Trace.AfterJob) {
          val (rows, changed) = fingerprint(out)
          attempt(what, changed ++ (if (checkFirst) w.check(ctx, out) else Nil))
          if (traced) w.layerCounts(ctx, out)
          rows
        }
        if (traced) {
          tracedRows += row.get
          tracedLayers += ((out.wallS, layers))
        } else
          jobs += ((out.wallS, storageMb,
            out.outputs.map(o => Util.bytes(new File(o))).sum.toDouble / math.max(rows, 1L)))
        val steps = out.steps.map { case (k, v) => f"$k $v%.3f" }.mkString(" ")
        println(f"[${Util.clock()}%.1f] $what ${attempted - 1}: ${out.wallS}%.3f s, storage $storageMb%.1f MB" +
          (if (steps.isEmpty) "" else s" [$steps]"))
        out.scratch.foreach(d => Util.delete(new File(d)))
    }
  }

  def loop(seconds: Double): Unit = {
    val t0 = System.nanoTime()
    var n = 0
    do {
      once(traced = false)
      if (tracing) once(traced = true)
      n += 1
    } while (((System.nanoTime() - t0) / 1e9 < seconds || n < w.minJobs) && jobs.nonEmpty)
  }

  private def jobS = Util.median(jobs.map(_._1).toSeq)

  def endToEnd(setupS: Double): Seq[(String, Double, String)] = {
    require(jobs.nonEmpty, "no job completed")
    println(s"jobs: ${jobs.size}, wall ${jobs.map(j => f"${j._1}%.3f").mkString(" ")}")
    Seq(
      ("setup_s", setupS, "s"),
      ("job_s", jobS, "s"),
      ("docs_per_s", w.docs / jobS, "docs/s"),
      ("storage_peak_mb", Util.median(jobs.map(_._2).toSeq), "MB"),
      ("output_bytes_per_row", Util.median(jobs.map(_._3).toSeq), "B/row"))
  }

  /** Whole-job roll-up of one traced job, taken before anything else runs. */
  private def layerRow(out: JobOut, layers: Map[String, LayerStats]): Map[String, Double] = {
    val all = layers.values
    val named = layers.filter(l => !Trace.Unnamed(l._1)).values
    val taskS = all.map(_.taskNs).sum / 1e9
    val io = layers.get("io")
    Map(
      "traced_job_s" -> out.wallS,
      "attributed_frac" -> named.map(_.wallNs).sum / 1e9 / out.wallS,
      "task_s" -> taskS,
      "util" -> taskS / (out.wallS * ctx.cores),
      "jobs" -> all.map(_.jobs).sum.toDouble,
      "tasks" -> all.map(_.tasks).sum.toDouble,
      "shuffle_mb" -> all.map(_.shuffleBytes).sum / 1e6,
      "traced_storage_peak_mb" -> all.map(_.storagePeak).max / 1e6,
      "io.wall_s" -> io.map(_.wallNs / 1e9).getOrElse(0.0),
      "io.write_mb" -> out.outputs.map(o => Util.bytes(new File(o))).sum / 1e6,
      "io.files" -> out.outputs.map(o => Util.files(new File(o))).sum.toDouble)
  }

  def perLayer(report: Path): Seq[(String, Double, String)] = {
    require(jobs.nonEmpty && tracedRows.nonEmpty, "no traced job completed")
    def med(k: String) = Util.median(tracedRows.map(_(k)).toSeq)
    val (lastWall, lastLayers) = tracedLayers.last
    Util.printLayers(lastLayers, lastWall, ctx.cores)
    println(f"traced: ${tracedRows.size} jobs, median ${med("traced_job_s")}%.3f s vs " +
      f"untraced $jobS%.3f s; ${med("attributed_frac") * 100}%.1f%% of traced wall in named layers")
    Util.writeReport(report, tracedLayers.toSeq, jobS, ctx.cores)
    Seq(
      ("traced_job_s", med("traced_job_s"), "s"),
      ("trace_overhead", med("traced_job_s") / jobS, "ratio"),
      ("attributed_frac", med("attributed_frac"), "fraction"),
      ("task_s", med("task_s"), "s"),
      ("util", med("util"), "fraction"),
      ("jobs", med("jobs"), "count"),
      ("tasks", med("tasks"), "count"),
      ("shuffle_mb", med("shuffle_mb"), "MB"),
      ("traced_storage_peak_mb", med("traced_storage_peak_mb"), "MB"),
      ("io.wall_s", med("io.wall_s"), "s"),
      ("io.write_mb", med("io.write_mb"), "MB"),
      ("io.files", med("io.files"), "count"))
  }
}
