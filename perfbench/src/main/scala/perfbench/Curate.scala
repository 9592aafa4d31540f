package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{Dedup, Packing, Similarity, TextAnalysis}

/** `corpus_curate`: one client pushes fresh document batches through the
  * curation pipeline in one long-lived session: language id, quality
  * features, exact dedup, MinHash near-dup pairs and their components,
  * semantic dedup, BPE training and token packing, and admission into a
  * persisted vector index that set-up builds and the workload compacts on
  * a fixed cadence. The codegen kernels, the operator suite, checkpoint
  * pins and the index's append-and-fragment cycle sit on the critical
  * path; the statement engine is bypassed. */
final class Curate(spark: SparkSession, a: Main.Args) {
  private val dim = a.int("embed_dim")

  private def batchFile(b: Int) = f"${a.data}/batch_$b%03d"
  private def lines(p: String): Seq[String] =
    Files.readAllLines(Paths.get(p)).asScala.toSeq.filter(_.nonEmpty)

  private def buildIndex(path: Path): Long = {
    Main.rmrf(path)
    val hist = spark.read.parquet(s"${a.data}/history.parquet")
    Similarity.writeEmbedIndex(Similarity.hashedEmbeddingVec(hist, dim), path.toString,
      a.int("index_cells")).head().getLong(0)
  }

  /** The index's current cell generation: the highest committed
    * `cells__g<N>`, else the initial `cells`. */
  private def currentCells(path: Path): Path = {
    val gens = Files.list(path).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.startsWith("cells__g") && Files.exists(p.resolve("_SUCCESS")))
    if (gens.isEmpty) path.resolve("cells")
    else gens.maxBy(_.getFileName.toString.stripPrefix("cells__g").toInt)
  }
  private def indexFiles(path: Path): Long = {
    val s = Files.walk(currentCells(path))
    try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")).toLong
    finally s.close()
  }

  private final case class Found(batch: Int, kept: Set[Long], pairs: Set[(Long, Long)], admitted: Long)

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** One batch, the workload's operation, through every stage; returns
    * what the checks need. */
  private def batch(file: String, b: Int, index: Path, t: Tracer, n: Int): Found =
      t.op("bench.batch") {
    val docs = spark.read.parquet(s"$file.parquet")
    t.span("functions.langid")(noop(TextAnalysis.langId(docs).select(col("doc_id"), col("pred"))))
    t.span("functions.quality")(noop(TextAnalysis.qualityFeatures(docs)))
    val kept = t.span("operators.exact_dedup")(
      Dedup.exactDedup(docs).collect().map(_.getLong(0)).toSet)
    val unique = docs.filter(col("doc_id").isin(kept.toSeq: _*))
    val pairs = t.span("operators.minhash_cc") {
      val p = Dedup.minhashPairs(unique, a.double("minhash_threshold")).localCheckpoint()
      noop(Dedup.connectedComponents(p.select(col("id_a"), col("id_b"))))
      p.select(col("id_a"), col("id_b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val vecs = Similarity.hashedEmbeddingVec(unique, dim)
    t.span("operators.semdedup")(
      noop(Dedup.semDedup(Similarity.quantizedCells(vecs), a.double("semdedup_tau"))))
    val tok = t.span("operators.bpe_train")(
      TextAnalysis.bpeTrainTokenizer(unique, a.int("bpe_merges")))
    t.span("operators.pack_ids")(noop(Packing.packTokenIds(
      unique.select(col("doc_id"), col("text")), tok.merges, a.int("pack_budget"), tok.alphabet)))
    val admitted = t.span("operators.embed_admit")(
      Similarity.embedAdmitAppend(vecs, index.toString, a.double("admit_tau")).count())
    if ((n + 1) % a.int("compact_every") == 0)
      t.span("operators.compact_index")(Similarity.compactEmbedIndex(spark, index.toString).collect())
    Found(b, kept, pairs, admitted)
  }

  private final case class Seg(ms: Seq[Double], wallNs: Long, docs: Long, found: Seq[Found],
      batches: Seq[Int], storageMb: Seq[Double], indexFiles: Seq[Long])

  /** Fresh batches from `first` until `seconds` have elapsed, at least
    * `min_batches` ran and the last compaction cycle is whole, or the
    * generated batches run out. */
  private def segment(first: Int, index: Path, t: Tracer): Seg = {
    val ms, storage = Seq.newBuilder[Double]
    val found = Seq.newBuilder[Found]
    val files = Seq.newBuilder[Long]
    var docs = 0L
    var n = 0
    val t0 = System.nanoTime()
    while ((n < a.int("min_batches") || System.nanoTime() - t0 < a.seconds * 1e9 ||
      n % a.int("compact_every") != 0) && n < a.int("batches") / 2) {
      val b0 = System.nanoTime()
      found += batch(batchFile(first + n), first + n, index, t, n)
      ms += (System.nanoTime() - b0) / 1e6
      docs += a.int("batch_docs")
      if (t.enabled) {
        storage += spark.sparkContext.getExecutorMemoryStatus.values
          .map { case (max, free) => max - free }.sum / 1048576.0
        files += indexFiles(index)
      }
      n += 1
    }
    Seg(ms.result(), System.nanoTime() - t0, docs, found.result(), first until first + n,
      storage.result(), files.result())
  }

  def run(): Result = {
    val r = new Result
    val setups = (0 until a.int("setup_reps")).map { i =>
      val t0 = System.nanoTime()
      val p = Paths.get(a.work, s"index$i")
      val n = buildIndex(p)
      ((System.nanoTime() - t0) / 1e9, p, n)
    }
    r.metric("setup_s", Stats.median(setups.map(_._1)), "s")
    val (_, index, indexed0) = setups.last
    // warm-up, outside the timed region: one small batch through every
    // stage against a spare index from set-up
    batch(s"${a.data}/warmup", -1, setups(1)._2, new Tracer(spark, enabled = false), 1)

    val s = segment(0, index, new Tracer(spark, enabled = false))
    r.attempted = s.ms.size
    r.metric("ops_per_s", s.ms.size / (s.wallNs / 1e9), "1/s")
    r.metric("op_mean_ms", Stats.mean(s.ms), "ms")
    r.metric("op_p50_ms", Stats.median(s.ms), "ms")
    r.metric("op_p90_ms", Stats.quantile(s.ms, 0.9), "ms")
    r.metric("live_heap_mb", Main.liveHeapMb(), "MB")
    r.metric("curate_docs_per_s", s.docs / (s.wallNs / 1e9), "1/s")
    r.metric("samples.ops", s.ms.size, "count")

    // exact dedup must drop exactly the injected verbatim copies
    val exactOk = s.found.map { f =>
      val ids = spark.read.parquet(s"${batchFile(f.batch)}.parquet").select(col("doc_id"))
        .collect().map(_.getLong(0)).toSet
      val expect = lines(s"${batchFile(f.batch)}.exact").map(_.toLong).toSet
      val dropped = a.plant match {
        case "keep_exact_dup" => (ids -- f.kept) - expect.head
        case _ => ids -- f.kept
      }
      dropped == expect
    }
    r.check("exact_dedup_drops_injected", exactOk.forall(identity))
    val truth = s.batches.flatMap(b => lines(s"${batchFile(b)}.near").map { l =>
      val Array(x, y) = l.split(" ").map(_.toLong); (math.min(x, y), math.max(x, y))
    }).toSet
    val found = s.found.flatMap(_.pairs).toSet
    val hit = (found intersect truth).size.toDouble
    val recall = hit / math.max(1, truth.size)
    val precision = if (found.isEmpty) 0.0 else hit / found.size
    r.metric("operators.neardup_recall", recall, "fraction")
    r.metric("operators.neardup_precision", precision, "fraction")
    r.check("neardup_recall_floor", recall >= a.double("recall_floor"))
    r.check("neardup_precision_floor", precision >= a.double("precision_floor"))
    val rows = spark.read.parquet(currentCells(index).toString).count()
    val admitted = s.found.map(_.admitted).sum
    r.check("index_count_matches_admitted", rows == indexed0 + admitted)
    r.failed = exactOk.count(!_).toLong

    if (a.trace) traced(r, setups.head._2, s)
    r
  }

  /** A traced segment on an untouched index from set-up and its own fresh
    * batches; per-layer metrics come from its spans. */
  private def traced(r: Result, index: Path, plain: Seg): Unit = {
    val t = new Tracer(spark, enabled = true)
    val cg0 = t.codegen
    val s = segment(a.int("batches") / 2, index, t)
    val cg1 = t.codegen
    t.drain()
    t.write(s"${a.work}/spans.jsonl")
    Trace.sparkLayer(t, r, s.wallNs, 1, (cg1._1 - cg0._1, cg1._2 - cg0._2))
    r.metric("trace_overhead_frac", Stats.median(s.ms) / Stats.median(plain.ms) - 1.0, "fraction")
    val spans = t.all
    val nb = math.max(1, s.ms.size).toDouble
    def wall(n: String) = spans.filter(_.name == n).map(_.dur / 1e6).sum / nb
    def jobs(n: String) = spans.filter(_.name == n).map(x => t.countsOf(x.id).jobs).sum / nb
    r.metric("functions.langid_ms", wall("functions.langid"), "ms")
    r.metric("functions.quality_ms", wall("functions.quality"), "ms")
    Seq("exact_dedup", "minhash_cc", "semdedup", "bpe_train", "pack_ids", "embed_admit")
      .foreach(n => r.metric(s"operators.${n}_ms", wall(s"operators.$n"), "ms"))
    r.metric("operators.minhash_jobs", jobs("operators.minhash_cc"), "count")
    r.metric("operators.semdedup_jobs", jobs("operators.semdedup"), "count")
    r.metric("operators.pack_jobs", jobs("operators.pack_ids"), "count")
    val shuffle = spans.filter(_.parent == 0L).map(o =>
      t.opCounts(spans.filter(_.op == o.id)).shuffleWrite).sum
    r.metric("operators.shuffle_bytes_per_doc", shuffle.toDouble / math.max(1L, s.docs), "bytes")
    r.metric("operators.index_files", s.indexFiles.lastOption.getOrElse(0L).toDouble, "count")
    r.metric("spark.storage_mem_mb_max", if (s.storageMb.isEmpty) 0.0 else s.storageMb.max, "MB")
    r.metric("spark.storage_mem_mb_end", s.storageMb.lastOption.getOrElse(0.0), "MB")
  }
}
