package perfbench

import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** `tpch_5x`: one client runs every `q*` row of `SparkEntry.queries`
  * through the noop sink, in an order the seed permutes per pass, over a
  * generated relational data set. Volume-bound relational work that
  * never touches the statement shell: the control for engine and catalog
  * changes, and the workload for plan shape, scan, shuffle and codegen.
  * Its 52 queries' generated classes outnumber Spark's default
  * 100-entry codegen cache. */
final class Tpch(spark: SparkSession, a: Main.Args) {
  private val names = SparkEntry.queries.keys.filter(_.matches("q\\d+_.*")).toSeq.sorted

  private var failures = 0L

  private def runQuery(s: SparkSession, t: Tracer, name: String): Double = {
    val t0 = System.nanoTime()
    try t.op(s"bench.$name") {
      val df = t.span("operators.build")(SparkEntry.queries(name)(s, a.data))
      t.span("spark.write_noop")(df.write.mode("overwrite").format("noop").save())
    } catch {
      case e: Throwable => failures += 1; System.err.println(s"[perfbench] $name failed: $e")
    }
    (System.nanoTime() - t0) / 1e6
  }

  /** Whole passes, each in a seeded order, until `seconds` have elapsed and
    * at least `min_passes` ran. Whole passes keep every query's share of
    * the samples equal, whatever the host's speed. */
  private def passes(s: SparkSession, t: Tracer, seed: Long): (Seq[Double], Long, Int) = {
    val rnd = new Random(seed)
    val samples = Seq.newBuilder[Double]
    val t0 = System.nanoTime()
    var n = 0
    while (n < a.int("min_passes") || System.nanoTime() - t0 < a.seconds * 1e9) {
      rnd.shuffle(names).foreach(q => samples += runQuery(s, t, q))
      n += 1
    }
    (samples.result(), System.nanoTime() - t0, n)
  }

  def run(): Result = {
    val r = new Result
    val seed = a.params("seed").toLong
    // set-up: a fresh session binds every table and touches the fact table
    val setups = (0 until a.int("setup_reps")).map { _ =>
      val t0 = System.nanoTime()
      val s = spark.newSession()
      Tables.registerAll(s, a.data)
      s.table("lineitem").count()
      ((System.nanoTime() - t0) / 1e9, s)
    }
    r.metric("setup_s", Stats.median(setups.map(_._1)), "s")
    val s = setups.last._2

    // warm-up pass, outside the timed region, doubles as the correctness
    // dump: each result goes to parquet for the DuckDB oracle compare
    val d0 = System.nanoTime()
    val out = Paths.get(a.work, "results")
    Main.rmrf(out)
    names.foreach { q =>
      try SparkEntry.queries(q)(s, a.data).coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
      catch { case e: Throwable => failures += 1; System.err.println(s"[perfbench] $q failed: $e") }
    }
    val oracle = names.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _))
    Files.writeString(out.resolve("oracle_sql.json"), oracle.map { case (k, v) =>
      s"${Result.str(k)}: ${Result.str(v)}"
    }.mkString("{", ", ", "}"))

    System.err.println(f"[perfbench] correctness pass took ${(System.nanoTime() - d0) / 1e9}%.1f s")
    val (ms, wall, n) = passes(s, new Tracer(spark, enabled = false), seed)
    r.attempted = ms.size
    r.failed = failures
    r.metric("ops_per_s", ms.size / (wall / 1e9), "1/s")
    r.metric("op_mean_ms", Stats.mean(ms), "ms")
    r.metric("op_p50_ms", Stats.median(ms), "ms")
    r.metric("op_p90_ms", Stats.quantile(ms, 0.9), "ms")
    r.metric("live_heap_mb", Main.liveHeapMb(), "MB")
    r.metric("tpch_pass_s", wall / 1e9 / n, "s")
    r.metric("samples.ops", ms.size, "count")

    if (a.trace) {
      val t = new Tracer(spark, enabled = true)
      val cg0 = t.codegen
      val (tms, twall, _) = passes(s, t, seed + 1)
      val cg1 = t.codegen
      t.drain()
      t.write(s"${a.work}/spans.jsonl")
      Trace.sparkLayer(t, r, twall, 1, (cg1._1 - cg0._1, cg1._2 - cg0._2))
      r.metric("trace_overhead_frac", Stats.median(tms) / Stats.median(ms) - 1.0, "fraction")
    }
    r
  }
}
