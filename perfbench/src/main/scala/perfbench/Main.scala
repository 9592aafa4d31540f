package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.Locale

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point. `run.py` generates the inputs, starts
  * this main once per run and turns the result file into the printed line.
  *
  * Arguments: `--workload W --seconds S --trace 0|1 --data DIR --work DIR
  * --out FILE [--plant DEFECT] [key=value ...]`, where the key=value pairs
  * are the workload's sizes from `workloads.json`.
  */
object Main {
  final case class Args(workload: String, seconds: Double, trace: Boolean, data: String,
      work: String, out: String, plant: String, params: Map[String, String]) {
    def int(k: String): Int = params(k).toInt
    def double(k: String): Double = params(k).toDouble
  }

  def parse(argv: Array[String]): Args = {
    val flags = mutable.Map[String, String]()
    val params = mutable.Map[String, String]()
    var i = 0
    while (i < argv.length) {
      if (argv(i).startsWith("--")) { flags(argv(i).drop(2)) = argv(i + 1); i += 2 }
      else { val Array(k, v) = argv(i).split("=", 2); params(k) = v; i += 1 }
    }
    Args(flags("workload"), flags("seconds").toDouble, flags("trace") == "1", flags("data"),
      flags("work"), flags("out"), flags.getOrElse("plant", ""), params.toMap)
  }

  /** One session configuration for every workload: local[nproc], one
    * shuffle partition per core, AQE on, UTC, no UI. No codegen-cache
    * override and no GC nudges: a user's long-lived session pays both. */
  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "ERROR")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.work))
    val spark = session(a.work)
    val r = a.workload match {
      case "pg_mixed" => new PgMixed(spark, a).run()
      case "tpch_5x" => new Tpch(spark, a).run()
      case "corpus_curate" => new Curate(spark, a).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.writeString(Paths.get(a.out), r.json)
    spark.stop()
  }

  /** Heap the session still holds after a full collection, in MB: what a
    * long-lived session keeps (cached plans, pinned blocks, listeners).
    * Called once, after the timed region. */
  def liveHeapMb(): Double = {
    // the second collection reclaims what the ContextCleaner released
    // after the first one made unreferenced RDDs and broadcasts collectable
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.foreach(Files.delete)
    finally s.close()
  }

  def dirBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
  }
}

/** Outcome of one run: operation counts, named correctness checks and
  * metrics (value, unit). `run.py` selects the end-to-end or per-layer
  * subset for the printed line. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val checks = mutable.LinkedHashMap[String, Boolean]()
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()

  def check(name: String, ok: Boolean): Unit = {
    checks(name) = checks.getOrElse(name, true) && ok
    if (!ok) System.err.println(s"[perfbench] check failed: $name")
  }
  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def json: String = {
    import Result.str
    def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else String.format(Locale.ROOT, "%.9g", Double.box(v))
    val m = metrics.map { case (k, (v, u)) => s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
    val c = checks.map { case (k, v) => s"${str(k)}: $v" }
    s"""{"attempted": $attempted, "failed": $failed, "checks": {${c.mkString(", ")}}, """ +
      s""""metrics": {${m.mkString(", ")}}}"""
  }
}

object Result {
  /** JSON string literal; control characters escaped. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Stats {
  /** Linear-interpolated quantile (numpy's default); 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) 0.0 else {
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}
