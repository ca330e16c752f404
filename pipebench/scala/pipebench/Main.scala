package pipebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One workload: inputs read in set-up, one closed-loop iteration per
  * `pass`, and checks too costly to repeat per pass in `finish`. */
abstract class Workload(val spark: SparkSession, val rec: Recorder,
    val dir: String, val work: String) {
  def load(): Unit
  def pass(): Unit
  def finish(): Unit = ()
  /** Passes of a traced run: enough for every op measured here to have
    * a traced and an untraced call after its first (see Recorder.probe). */
  def tracedPasses: Int
  /** Rows of the workload's main input (panel rows, documents). */
  def inputRows: Long

  private val held = ArrayBuffer[DataFrame]()
  private val inputs = ArrayBuffer[DataFrame]()

  /** Materialise an op's output at the op boundary: persisted and
    * counted, released when the next pass starts. */
  protected def hold(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    held += p
    (p, p.count())
  }

  /** Read an input parquet file, cached for the whole run. */
  protected def input(file: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$file").persist()
    df.count()
    inputs += df
    df
  }

  def release(): Unit = { held.foreach(_.unpersist()); held.clear() }

  def close(): Unit = {
    release()
    inputs.foreach(_.unpersist())
    inputs.clear()
  }
}

object Main {
  /** Set-up is repeated this many times per run; `setup_s` takes the
    * median. */
  val SetupRounds = 3
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("pipebench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "131072")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def readJson(path: String): Map[String, Any] =
    json.readValue(new java.io.File(path), classOf[Map[String, Any]])

  /** Scan, hash aggregate, shuffle join, window, parquet write and read
    * over a generated table: the engine paths every op builds on, so
    * their class loading and JIT are not charged to the first op. */
  def warmUp(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val t = spark.range(200000).select(col("id"), (col("id") % 97).as("k"),
      (rand(1) * 100).as("v"), array(lit(1.0f), lit(2.0f)).as("a"))
    val g = t.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
    t.join(g, "k")
      .withColumn("r", row_number().over(Window.partitionBy("k")
        .orderBy("v")))
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).where(col("r") <= 3).orderBy("k", "r").collect()
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.fold(Double.NaN)(_.split("\\s+")(1).toDouble / 1024.0)
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val name = o("workload")
    val data = o("data")
    val work = o("work")
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val bootS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val t0 = System.nanoTime()
    val spark = session(o("cpus").toInt, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val rec = new Recorder(spark)

    def make(): Workload = {
      val w = s"$work/main"
      name match {
        case "panel_pipeline" => new Panel(spark, rec, data, w)
        case "corpus_ann" => new Corpus(spark, rec, data, w)
      }
    }

    // Set-up: read and cache the inputs (repeated; the median counts),
    // then warm the engine with one generated query. Each op's own
    // first-call cost stays in the pass: a pipeline job run once per JVM
    // pays it every time, and a warm-up pass would cost more than the
    // pass (the index lifecycle's fixed per-job cost is ~15 s even on
    // tiny inputs).
    var wl: Workload = null
    val rounds = (1 to SetupRounds).map { i =>
      val t = System.nanoTime()
      if (wl != null) wl.close()
      wl = make()
      rec.pass = -i
      rec.span("setup.load", "sub")(wl.load())
      (System.nanoTime() - t) / 1e9
    }
    val tw = System.nanoTime()
    rec.pass = -(SetupRounds + 1)
    rec.span("setup.warm", "sub")(warmUp(spark, s"$work/warm"))
    val warmS = (System.nanoTime() - tw) / 1e9

    // The closed loop: one client, each call issued when the previous
    // one returned, passes until `seconds` have elapsed.
    val probe = if (trace) Some(new Probe(spark)) else None
    rec.probe = probe
    rec.mode = "timed"
    val deadline = rec.nowMs + seconds * 1000
    val minPasses = if (trace) wl.tracedPasses else 1
    var p = 0
    while (p < minPasses || rec.nowMs < deadline) {
      rec.pass = p
      wl.release()
      rec.passSpan("pass")(wl.pass())
      p += 1
    }
    probe.foreach(_.detach())
    rec.probe = None
    rec.mode = "check"
    rec.pass = p
    try wl.finish() catch { case _: PassAbort => () }

    val rt = Runtime.getRuntime
    val result = Map(
      "workload" -> name,
      "trace" -> trace,
      "cpus" -> o("cpus").toInt,
      "heap_max_mb" -> rt.maxMemory / 1048576.0,
      "input_rows" -> wl.inputRows,
      "jvm_boot_s" -> bootS,
      "session_s" -> sessionS,
      "setup_rounds_s" -> rounds,
      "warmup_s" -> warmS,
      "passes" -> p,
      "attempted" -> rec.attempted,
      "failed_ids" -> rec.failedIds,
      "failures" -> rec.failures,
      "peak_rss_mb" -> peakRssMb(),
      "spans" -> rec.spans.map(_.toMap),
      "probe" -> probe.fold(Map.empty[String, Any])(_.toMap))
    Files.write(Paths.get(o("out")), json.writeValueAsBytes(result))
    spark.stop()
  }
}
