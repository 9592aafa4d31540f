package perfbench

import java.nio.file.{Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.engine.{Catalog, SqlEngine, SqlContext, SqlError, SqlParser}

/** `pg_mixed`: two closed-loop clients, each with its own SqlEngine and
  * SqlContext over one shared Catalog and SparkSession, send a seeded
  * mix of point reads, range and join aggregates, time-travel reads,
  * small INSERT … VALUES, INSERT … SELECT and duplicate-key INSERTs
  * against a hot bigserial table with a UNIQUE text column.
  *
  * The statement shell, the catalog and Spark's per-statement overhead
  * dominate here, not data volume; reads and writes share the hot table,
  * so the part count and auto-compaction trade-off shows in read latency.
  */
final class PgMixed(spark: SparkSession, a: Main.Args) {
  private val db = "bench"
  private val clients = a.int("clients")
  /** One deck of statement kinds, in the mix's exact proportions: 55%
    * reads, 35% small INSERT … VALUES, 5% INSERT … SELECT, 5% duplicate
    * keys. Each client plays whole decks in a seeded order, so every run
    * measures the same composition whatever the host's speed. */
  private val deck: Seq[String] = Seq("point", "range", "join", "version", "small_insert",
    "bulk_insert", "dup_insert").flatMap(k => Seq.fill(a.int(s"deck_$k"))(k))

  /** Keys acknowledged, keys of rejected statements, rows and user bytes. */
  private final class Ledger(val initialRows: Long, initialUserBytes: Long) {
    val acked = mutable.ArrayBuffer[String]()          // single-row keys
    val bulk = mutable.ArrayBuffer[(String, Long)]()   // (key prefix, rows)
    val rejected = mutable.ArrayBuffer[String]()
    val rows = new AtomicLong(initialRows)
    val userBytes = new AtomicLong(initialUserBytes)
    // upper bound of assigned ids: rejected INSERTs reserve ids too
    val reserved = new AtomicLong(initialRows)
    /** Rows and total key digits of the source orders with key % 3 == m. */
    val residue: IndexedSeq[(Long, Long)] = (0 until 3).map { m =>
      val ks = (m.toLong until initialRows by 3L)
      (ks.size.toLong, ks.map(_.toString.length.toLong).sum)
    }
    def pickAcked(rnd: Random): String = synchronized {
      if (acked.isEmpty || rnd.nextInt(4) == 0) s"o${rnd.nextLong(initialRows)}"
      else acked(rnd.nextInt(acked.size))
    }
  }

  /** Bytes of one row's values in fixed-width form: id, key text, cust, amount. */
  private def rowBytes(k: String): Long = 8L + k.getBytes("UTF-8").length + 8L + 8L

  private def sourceViews(): Long = {
    spark.read.parquet(s"${a.data}/orders.parquet").createOrReplaceTempView("pb_orders")
    spark.read.parquet(s"${a.data}/customer.parquet").createOrReplaceTempView("pb_customer")
    spark.table("pb_orders").count()
  }

  /** Creates and loads both tables in a fresh warehouse. */
  private def load(wh: Path): Catalog = {
    Main.rmrf(wh)
    val cat = new Catalog(wh.toString)
    val e = new SqlEngine(spark, cat, SqlContext(db, "loader"))
    e.execute(s"CREATE DATABASE $db")
    e.execute("CREATE TABLE hot (id bigserial PRIMARY KEY, k text, cust bigint, " +
      "amount float8, CONSTRAINT hot_k UNIQUE (k))")
    e.execute("CREATE TABLE cust (c_custkey bigint PRIMARY KEY, c_nationkey int, " +
      "c_acctbal float8, c_mktsegment text)")
    e.execute("INSERT INTO hot (k, cust, amount) SELECT concat('o', CAST(o_orderkey AS string)), " +
      "o_custkey, o_totalprice FROM pb_orders").collect()
    e.execute("INSERT INTO cust SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment " +
      "FROM pb_customer").collect()
    cat
  }

  private final case class Outcome(kind: String, ms: Double, ok: Boolean)

  /** One client's closed loop over one shuffled hand of `cards`. */
  private def client(i: Int, seg: Int, round: Int, cat: Catalog, led: Ledger, t: Tracer,
      cards: Seq[String], out: mutable.ArrayBuffer[Outcome], samples: mutable.ArrayBuffer[Int]): Unit = {
    val e = new SqlEngine(spark, cat, SqlContext(db, s"u$i"))
    val rnd = new Random(((a.params("seed").toLong * 1009L + seg) * 1009L + round) * 1009L + i)
    var seq = round * 1000L
    def run(kind: String, sql: String): Seq[org.apache.spark.sql.Row] = {
      t.span("engine.parse")(SqlParser.parse(sql))
      val df = t.span("engine.execute")(e.execute(sql))
      t.span("spark.collect")(df.collect().toSeq)
    }
    for (kind <- rnd.shuffle(cards)) {
      seq += 1
      val t0 = System.nanoTime()
      val ok = try t.op(s"bench.$kind") {
        val top = led.reserved.get
        val r = kind match {
          case "point" =>
            // log-uniform rank from the newest id: Zipf(1) skew toward recent rows
            val rank = math.exp(rnd.nextDouble() * math.log(top.toDouble)).toLong
            run(kind, s"SELECT id, k, cust, amount FROM hot WHERE id = ${math.max(1L, top - rank + 1)}")
              .size <= 1
          case "range" =>
            val lo = 1L + rnd.nextLong(math.max(1L, top - 500))
            val rows = run(kind, s"SELECT count(*) AS n, sum(amount) AS s FROM hot " +
              s"WHERE id BETWEEN $lo AND ${lo + 499}")
            rows.size == 1 && rows.head.getLong(0) <= 500
          case "join" =>
            run(kind, "SELECT c.c_mktsegment AS seg, count(*) AS n, sum(h.amount) AS s " +
              "FROM hot h JOIN cust c ON h.cust = c.c_custkey " +
              s"WHERE h.id > ${top - 2000} GROUP BY c.c_mktsegment").size <= 5
          case "version" =>
            val cur = t.span("catalog.version")(cat.currentVersion(db, "public", "hot"))
            val v = 1L + rnd.nextLong(cur)
            val n = run(kind, s"SELECT count(*) AS n FROM graft_at_version(hot, $v)").head.getLong(0)
            // ids are reserved before an INSERT commits: an upper bound on any version
            n >= led.initialRows && n <= led.reserved.get
          case "small_insert" =>
            val n = 1 + rnd.nextInt(20)
            val keys = (0 until n).map(j => s"c$seg-$i-$seq-$j")
            led.reserved.addAndGet(n)
            val vals = keys.map(k => s"('$k', ${rnd.nextInt(1500)}, ${rnd.nextInt(500000)}.${rnd.nextInt(100)})")
            val got = run(kind, s"INSERT INTO hot (k, cust, amount) VALUES ${vals.mkString(", ")}")
              .head.getLong(0)
            led.synchronized(led.acked ++= keys)
            led.rows.addAndGet(n)
            led.userBytes.addAndGet(keys.map(rowBytes).sum)
            got == n
          case "bulk_insert" =>
            val prefix = s"b$seg-$i-$seq-"
            val m = rnd.nextInt(3)
            val (expect, digits) = led.residue(m)
            led.reserved.addAndGet(expect)
            val got = run(kind, s"INSERT INTO hot (k, cust, amount) SELECT concat('$prefix', " +
              s"CAST(o_orderkey AS string)), o_custkey, o_totalprice FROM pb_orders " +
              s"WHERE o_orderkey % 3 = $m").head.getLong(0)
            led.synchronized(led.bulk += prefix -> got)
            led.rows.addAndGet(got)
            led.userBytes.addAndGet(got * rowBytes(prefix) + digits)
            got == expect
          case "dup_insert" =>
            val dup = led.pickAcked(rnd)
            val fresh = (0 until 2).map(j => s"r$seg-$i-$seq-$j")
            led.reserved.addAndGet(3)
            val vals = (fresh :+ dup).map(k => s"('$k', 1, 1.5)")
            val rejected = try {
              run(kind, s"INSERT INTO hot (k, cust, amount) VALUES ${vals.mkString(", ")}"); false
            } catch { case x: SqlError if x.kind == SqlError.UniqueKeyAlreadyExists => true }
            led.synchronized(led.rejected ++= fresh)
            rejected
        }
        if (t.enabled) {
          val parts = t.span("catalog.live_parts")(cat.liveParts(db, "public", "hot").size)
          samples.synchronized(samples += parts)
        }
        r
      } catch {
        case x: Throwable =>
          System.err.println(s"[perfbench] pg client $i $kind failed: $x")
          false
      }
      val ms = (System.nanoTime() - t0) / 1e6
      out.synchronized(out += Outcome(kind, ms, ok))
    }
  }

  /** Reads every row back and checks the ledger: each acknowledged key
    * once, bulk prefixes with their row counts, no key of a rejected
    * statement, unique ids. */
  private def readback(e: SqlEngine, led: Ledger): Boolean = {
    val rows = e.execute("SELECT id, k FROM hot").collect()
    val ids = rows.map(_.getLong(0))
    val keys = rows.map(_.getString(1))
    val count = mutable.HashMap[String, Int]().withDefaultValue(0)
    keys.foreach(k => count(k) += 1)
    val perPrefix = mutable.HashMap[String, Long]().withDefaultValue(0L)
    keys.foreach { k =>
      if (k.startsWith("b")) perPrefix(k.substring(0, k.lastIndexOf('-') + 1)) += 1
    }
    val acked = a.plant match {
      case "drop_ack_id" => led.acked :+ "c-planted-missing"
      case _ => led.acked
    }
    val okRows = rows.length.toLong == led.rows.get
    val okIds = ids.distinct.length == ids.length
    val okKeys = count.valuesIterator.forall(_ == 1)
    val okAcked = acked.forall(count(_) == 1)
    val okBulk = led.bulk.forall { case (p, n) => perPrefix(p) == n }
    val okRejected = led.rejected.forall(count(_) == 0)
    if (!(okRows && okIds && okKeys && okAcked && okBulk && okRejected))
      System.err.println(s"[perfbench] readback rows=$okRows ids=$okIds keys=$okKeys " +
        s"acked=$okAcked bulk=$okBulk rejected=$okRejected")
    okRows && okIds && okKeys && okAcked && okBulk && okRejected
  }

  private val readKinds = Set("point", "range", "join", "version")
  private def ms(s: Segment, kinds: Set[String]): Seq[Double] =
    s.outcomes.filter(o => kinds(o.kind)).map(_.ms)

  private final case class Segment(outcomes: Seq[Outcome], wallNs: Long, parts: Seq[Int],
      startMs: Long, endMs: Long)

  /** Rounds in which every client plays one hand, until `seconds` have
    * passed and at least `minRounds` ran: every run measures whole rounds,
    * so the statement mix and the concurrency stay the same. */
  private def segment(seg: Int, cat: Catalog, led: Ledger, t: Tracer, seconds: Double,
      minRounds: Int, cards: Seq[String] = deck): Segment = {
    val out = mutable.ArrayBuffer[Outcome]()
    val samples = mutable.ArrayBuffer[Int]()
    val t0 = System.nanoTime()
    val startMs = System.currentTimeMillis()
    var round = 0
    while (round < minRounds || System.nanoTime() - t0 < seconds * 1e9) {
      val threads = (0 until clients).map { i =>
        val th = new Thread(() => client(i, seg, round, cat, led, t, cards, out, samples))
        th.start(); th
      }
      threads.foreach(_.join())
      round += 1
    }
    Segment(out.toSeq, System.nanoTime() - t0, samples.toSeq, startMs, System.currentTimeMillis())
  }

  def run(): Result = {
    val r = new Result
    val nOrders = sourceViews()
    val initialBytes = (0L until nOrders).map(k => rowBytes(s"o$k")).sum
    val reps = a.int("setup_reps")
    val setups = (0 until reps).map { i =>
      val t0 = System.nanoTime()
      val cat = load(Paths.get(a.work, s"wh$i"))
      ((System.nanoTime() - t0) / 1e9, cat)
    }
    r.metric("setup_s", Stats.median(setups.map(_._1)), "s")

    val cat = setups.last._2
    val led = new Ledger(nOrders, initialBytes)
    // warm-up: every statement kind once per client, outside the timed region
    segment(-1, cat, led, new Tracer(spark, enabled = false), 0, 1, deck.distinct)

    val plain = new Tracer(spark, enabled = false)
    val s = segment(0, cat, led, plain, a.seconds, a.int("min_rounds"))
    val reads = ms(s, readKinds)
    val writes = s.outcomes.filter(_.kind.endsWith("insert")).map(_.ms)
    r.attempted = s.outcomes.size
    r.metric("ops_per_s", s.outcomes.size / (s.wallNs / 1e9), "1/s")
    val all = s.outcomes.map(_.ms)
    r.metric("op_mean_ms", Stats.mean(all), "ms")
    r.metric("op_p50_ms", Stats.median(all), "ms")
    r.metric("op_p90_ms", Stats.quantile(all, 0.9), "ms")
    r.metric("pg_read_p50_ms", Stats.median(reads), "ms")
    r.metric("live_heap_mb", Main.liveHeapMb(), "MB")
    r.metric("pg_write_p50_ms", Stats.median(writes), "ms")
    r.metric("pg_write_p90_ms", Stats.quantile(writes, 0.9), "ms")
    val tableDir = Paths.get(a.work, s"wh${reps - 1}", db, "public", "hot")
    r.metric("pg_bytes_per_user_byte", Main.dirBytes(tableDir).toDouble / led.userBytes.get, "ratio")
    r.metric("samples.ops", all.size, "count")
    val bad = s.outcomes.count(!_.ok)
    r.failed = bad
    r.check("statements_ok", bad == 0)

    // correctness outside the timed region: readback through the serving
    // catalog, then through a fresh Catalog over the same warehouse
    // (a restart analogue)
    r.check("readback", readback(new SqlEngine(spark, cat, SqlContext(db, "check")), led))
    r.check("readback_fresh_catalog",
      readback(new SqlEngine(spark, new Catalog(cat.warehouse), SqlContext(db, "check")), led))
    val dupsRejected = s.outcomes.filter(_.kind == "dup_insert").forall(_.ok)
    r.check("duplicates_rejected", dupsRejected)

    if (a.trace) traced(r, setups, nOrders, initialBytes, s)
    r
  }

  /** A traced segment on an untouched warehouse from set-up; per-layer
    * metrics come from its spans, end-to-end ones from the plain segment. */
  private def traced(r: Result, setups: Seq[(Double, Catalog)], nOrders: Long,
      initialBytes: Long, plain: Segment): Unit = {
    val cat = setups.head._2
    val led = new Ledger(nOrders, initialBytes)
    segment(-2, cat, led, new Tracer(spark, enabled = false), 0, 1, deck.distinct)
    val t = new Tracer(spark, enabled = true)
    val cg0 = t.codegen
    val bytes0 = led.userBytes.get
    val s = segment(1, cat, led, t, a.seconds, a.int("min_rounds"))
    val cg1 = t.codegen
    t.drain()
    t.write(s"${a.work}/spans.jsonl")
    Trace.sparkLayer(t, r, s.wallNs, clients, (cg1._1 - cg0._1, cg1._2 - cg0._2))
    r.metric("trace_overhead_frac",
      Stats.median(ms(s, readKinds)) / Stats.median(ms(plain, readKinds)) - 1.0, "fraction")

    val spans = t.all
    val byOp = spans.groupBy(_.op)
    val ops = spans.filter(_.parent == 0L)
    val selects = ops.filter(o => readKinds(o.name.stripPrefix("bench.")))
    val inserts = ops.filter(o => o.name == "bench.small_insert" || o.name == "bench.bulk_insert")
    def child(o: Span, n: String) = byOp(o.id).filter(x => x.name == n && x.parent == o.id)
    r.metric("engine.parse_us", Stats.median(spans.filter(_.name == "engine.parse").map(_.dur / 1e3)), "us")
    r.metric("engine.plan_ms", Stats.median(selects.flatMap(child(_, "engine.execute")).map(_.dur / 1e6)), "ms")
    val insExec = inserts.flatMap(child(_, "engine.execute"))
    r.metric("engine.insert_ms", Stats.median(insExec.map(_.dur / 1e6)), "ms")
    r.metric("engine.insert_jobs", Stats.mean(inserts.map(o => t.opCounts(byOp(o.id)).jobs.toDouble)), "count")
    r.metric("engine.insert_driver_ms",
      Stats.median(insExec.map(x => Trace.driverGap(x, byOp(x.op)) / 1e6)), "ms")
    r.metric("engine.select_jobs", Stats.mean(selects.map(o => t.opCounts(byOp(o.id)).jobs.toDouble)), "count")
    r.metric("engine.select_tasks", Stats.mean(selects.map(o => t.opCounts(byOp(o.id)).tasks.toDouble)), "count")
    r.metric("catalog.live_parts_mean", Stats.mean(s.parts.map(_.toDouble)), "count")
    r.metric("catalog.live_parts_max", if (s.parts.isEmpty) 0.0 else s.parts.max.toDouble, "count")
    // compaction publishes inside the traced segment: versions whose part
    // count dropped; the INSERT that ran it returns first after the publish
    val pubs = cat.versionHistory(db, "public", "hot").sliding(2).collect {
      case Seq(x, y) if y._3 < x._3 && y._2 >= s.startMs && y._2 <= s.endMs => y._2
    }.toSeq
    val compacting = pubs.flatMap { m =>
      inserts.filter(o => t.msOf(o.start) <= m).sortBy(_.end).find(o => t.msOf(o.end) >= m)
    }
    r.metric("catalog.compactions", pubs.size, "count")
    r.metric("catalog.compacting_insert_ms", Stats.mean(compacting.map(_.dur / 1e6)), "ms")
    val out = inserts.map(o => t.opCounts(byOp(o.id)).output).sum
    r.metric("catalog.bytes_written_per_user_byte",
      out.toDouble / math.max(1L, led.userBytes.get - bytes0), "ratio")
  }
}
