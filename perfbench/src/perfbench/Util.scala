package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

object Util {

  /** The program's runtime settings (`graft.Main.session`) on every core of
    * the machine, with all scratch files under `work`. */
  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private val start = System.nanoTime()

  /** Seconds since the benchmark started, for progress lines. */
  def clock(): Double = (System.nanoTime() - start) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def walk(f: File): Iterator[File] =
    if (f.isDirectory) Option(f.listFiles).iterator.flatten.flatMap(walk)
    else if (f.isFile) Iterator(f) else Iterator.empty

  private def isData(f: File) = !f.getName.startsWith(".") && !f.getName.startsWith("_")

  /** Bytes of the data files of a table directory (no checksums, markers). */
  def bytes(dir: File): Long = walk(dir).filter(isData).map(_.length).sum
  def files(dir: File): Int = walk(dir).count(isData)

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)

  private def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def result(correct: Boolean, attempted: Int, failed: Int,
             metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (k, v, u) => s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  private def layerFields(st: LayerStats, cores: Int): Seq[(String, Double)] = {
    val wall = st.wallNs / 1e9
    val task = st.taskNs / 1e9
    Seq("wall_s" -> wall, "task_s" -> task,
      "util" -> (if (wall > 0) task / (wall * cores) else 0.0),
      "jobs" -> st.jobs.toDouble, "stages" -> st.stages.toDouble,
      "shuffle_mb" -> st.shuffleBytes / 1e6, "spill_mb" -> st.spillBytes / 1e6,
      "storage_mb" -> st.storagePeak / 1e6, "task_skew" -> st.skew,
      "peak_task_mem_mb" -> st.peakTaskMem / 1e6,
      "failed_tasks" -> st.failedTasks.toDouble) ++ st.counts.toSeq
  }

  /** One line per layer of a traced job, slowest first. */
  def printLayers(layers: Map[String, LayerStats], wallS: Double, cores: Int): Unit =
    layers.toSeq.sortBy(-_._2.wallNs).foreach { case (name, st) =>
      val fs = layerFields(st, cores).map { case (k, v) => f"$k=$v%.4g" }.mkString(" ")
      println(f"layer $name%-22s ${st.wallNs / 1e9 / wallS * 100}%5.1f%% $fs")
    }

  /** Every traced job's per-layer table as JSON, for later comparison. */
  def writeReport(path: Path, runs: Seq[(Double, Map[String, LayerStats])],
                  untracedS: Double, cores: Int): Unit = {
    val js = runs.map { case (wall, layers) =>
      val ls = layers.toSeq.map { case (name, st) =>
        val fs = layerFields(st, cores).map { case (k, v) => s"${str(k)}: ${num(v)}" }
        s"${str(name)}: {${fs.mkString(", ")}}"
      }
      s"""{"wall_s": ${num(wall)}, "layers": {${ls.mkString(", ")}}}"""
    }
    Files.createDirectories(path.getParent)
    Files.write(path, s"""{"untraced_job_s": ${num(untracedS)}, "traced": [${js.mkString(", ")}]}""".getBytes("UTF-8"))
    println(s"trace report: $path")
  }
}
