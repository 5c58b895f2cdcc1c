package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextExprs
import graft.operators.{Dedup, IvfIndex, PqIndex, Similarity, TextSearch}
import graft.sources.CsvIngest
import graft.perfbench.Main.Recorder

/** `curation`: one client in a closed loop over a seeded corpus with
  * injected near-duplicates. A round is
  *
  *  1. build: language gate → exact dedup → near-dup dedup → curated
  *     corpus → saved BM25 stats → IVF index and PQ codes;
  *  2. [[Curation.Updates]] times: update — one crawl drop of new
  *     documents appended to the saved BM25 stats — then
  *     [[Curation.ReadsPerUpdate]] reads — probe batches, each one BM25
  *     batch over the grown corpus, one IVF search and one PQ shortlist +
  *     exact re-rank. A read after an update is also that update's
  *     correctness check: its BM25 scores depend on the merged stats. */
final class Curation(spark: SparkSession, seed: Long) extends Main.Workload {
  import Curation._
  import spark.implicits._

  private var dir: File = _
  private def docsCsv = new File(dir, "docs.csv").getPath
  private def vecsCsv = new File(dir, "vecs.csv").getPath
  private var bm25Probes: Seq[Seq[(Long, Seq[String])]] = Nil
  private var annProbes: Seq[Seq[(Long, Array[Float])]] = Nil
  private var lastNear: Option[(DataFrame, DataFrame)] = None
  private var lastVecs: String = _

  def opsPerRound: Int = 1 + Updates * (1 + ReadsPerUpdate)
  private def deltaCsv(k: Int) = new File(dir, s"drops/docs$k.csv").getPath

  def setup(d: File): Map[String, Gen.Sizes] = {
    dir = d
    val (ds, vs) = Gen.corpus(docsCsv, vecsCsv, seed, BaseDocs, Dim)
    bm25Probes = Gen.bm25Probes(seed, ProbePool, ProbesPerBatch)
    annProbes = Gen.annProbes(seed, vecsCsv, ProbePool, ProbesPerBatch)
    Map("docs.csv" -> ds, "vecs.csv" -> vs) ++
      (0 until Updates).map(k => s"drops/docs$k.csv" ->
        Gen.deltaDocs(deltaCsv(k), seed, k, DeltaIdBase + k * DeltaDocs, DeltaDocs))
  }

  private def docs: DataFrame = docsFrom(docsCsv)
  private def docsFrom(csv: String): DataFrame = CsvIngest.readAllString(spark, csv)
    .select(col("doc_id").cast(LongType), col("text"),
      col("n_chars").cast(LongType), col("source"))
  private def vecs: DataFrame = CsvIngest.readAllString(spark, vecsCsv)
    .select(col("vec_id").cast(LongType),
      split(col("embedding"), ";").cast("array<float>").as("embedding"))

  private final case class Built(curated: DataFrame, curVecs: DataFrame, stats: String,
                                 ivf: String, pqModel: PqIndex.Model, codes: DataFrame)

  private def build(i: Int, tr: Tracer): Built = {
    val all = docs
    val en = tr.span("functions.lang_gate", prefix = Seq(all)) {
      tr.force(all.where(TextExprs.langId(col("text")) === "en"))
    }
    val curatedPath = new File(dir, s"curated$i").getAbsolutePath
    tr.span("operators.dedup", prefix = Seq(en)) {
      val exact = Dedup.exactKeepBest(en, "doc_id", "text", "n_chars")
      val kept = en.join(exact.select(col("doc_id")), Seq("doc_id"), "left_semi")
      val near = Dedup.nearDupKeepBest(kept, "doc_id", "text", "n_chars", Threshold)
      if (i >= 0) lastNear = Some((kept, near))
      kept.join(near.select(col("rep").as("doc_id")), Seq("doc_id"), "left_semi")
        .write.parquet(curatedPath)
    }
    val curated = spark.read.parquet(curatedPath)
    val stats = new File(dir, s"stats$i").getAbsolutePath
    tr.span("operators.bm25") {
      TextSearch.saveCorpusStats(curated, "doc_id", "text", stats)
    }
    val ivf = new File(dir, s"ivf$i").getAbsolutePath
    val vecPath = new File(dir, s"curated_vecs$i").getAbsolutePath
    val codesPath = new File(dir, s"pq$i").getAbsolutePath
    val pqModel = tr.span("operators.ann") {
      vecs.join(curated.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
        .write.parquet(vecPath)
      val cv = spark.read.parquet(vecPath)
      val model = IvfIndex.train(cv, "vec_id", "embedding", IvfCells)
      IvfIndex.saveIndex(model, IvfIndex.assign(cv, "vec_id", "embedding", model), ivf)
      val pq = PqIndex.train(cv, "vec_id", "embedding", PqM, PqK)
      PqIndex.encode(cv, "vec_id", "embedding", pq).write.parquet(codesPath)
      pq
    }
    lastVecs = vecPath
    Built(curated, spark.read.parquet(vecPath), stats, ivf, pqModel,
      spark.read.parquet(codesPath))
  }

  def round(i: Int, tr: Tracer, rec: Recorder): Unit = {
    val t0 = System.nanoTime()
    val b = try Some(build(i, tr)) catch {
      case scala.util.control.NonFatal(e) =>
        rec.fail(s"build $i", e)
        rec.skip(opsPerRound - 1)
        None
    }
    b.foreach { built =>
      rec.build((System.nanoTime() - t0) / 1e9)
      // before the sweep: the near-dup frame reads local checkpoints
      if (i >= 0) recordBuild(built, rec)
      Main.sweep(spark)
      var corpus = built.curated.select(col("doc_id"), col("text"), col("n_chars"), col("source"))
      // the warm-up round (i < 0) compiles the update and read plans with
      // one update and one read
      (0 until (if (i < 0) 1 else Updates)).foreach { k =>
        val delta = docsFrom(deltaCsv(k))
        val u0 = System.nanoTime()
        val ok = try {
          tr.span("operators.bm25")(TextSearch.appendCorpusStats(delta, "doc_id", "text", built.stats))
          true
        } catch {
          case scala.util.control.NonFatal(e) =>
            rec.fail(s"update $i/$k", e)
            rec.skip(ReadsPerUpdate)
            false
        }
        if (ok) {
          rec.update(Main.msSince(u0))
          corpus = corpus.unionByName(delta)
          Main.sweep(spark)
          (0 until (if (i < 0) 1 else ReadsPerUpdate)).foreach { j =>
            val bt = ((math.abs(i) * Updates + k) * ReadsPerUpdate + j) % ProbePool
            search(built, corpus, bt, tr, rec, check = i >= 0,
              deltas = (0 to k).map(deltaCsv))
            Main.sweep(spark)
          }
        }
      }
    }
    Main.sweep(spark)
  }

  private def search(b: Built, corpus: DataFrame, bt: Int, tr: Tracer, rec: Recorder,
                     check: Boolean, deltas: Seq[String]): Unit = {
    val probes = bm25Probes(bt).toDF("probe", "terms")
    val queries = annProbes(bt).map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val t0 = System.nanoTime()
    val out = try {
      val bm = tr.span("operators.bm25") {
        TextSearch.bm25TopKBatchIndexed(corpus, "doc_id", "text", b.stats,
          probes, "probe", "terms", K).collect()
      }
      val (ivf, pq) = tr.span("operators.ann") {
        val (model, index) = IvfIndex.loadIndex(spark, b.ivf)
        (IvfIndex.search(index, queries, "vec_id", "embedding", model, K, NProbe).collect(),
          PqIndex.searchRerank(b.codes, b.curVecs, queries, "vec_id", "embedding",
            b.pqModel, K, Shortlist).collect())
      }
      Some((bm, ivf, pq))
    } catch {
      case scala.util.control.NonFatal(e) => rec.fail(s"probe batch $bt", e); None
    }
    out.foreach { case (bm, ivf, pq) =>
      val ms = Main.msSince(t0)
      rec.read(ms)
      rec.readPhase(ms / 1000.0)
      if (check)
        rec.check("search", "batch" -> Int.box(bt), "deltas" -> Main.list(deltas),
          "probes" -> Main.list(bm25Probes(bt).map { case (p, ts) => Row(p, ts) }),
          "queries" -> Main.list(annProbes(bt).map { case (id, v) => Row(id, v.toSeq) }),
          "bm25" -> Main.list(bm.toSeq), "ivf" -> Main.list(ivf.toSeq),
          "pq" -> Main.list(pq.toSeq))
    }
  }

  /** Untimed, per build: the build's outputs. The near-dup frame reads
    * local checkpoints, so this runs before the round's sweep. */
  private def recordBuild(b: Built, rec: Recorder): Unit = {
    val (_, near) = lastNear.get
    rec.check("build", "docs_csv" -> docsCsv, "vecs_csv" -> vecsCsv,
      "reps" -> Main.list(near.select(col("rep"), col("n_members")).collect().toSeq),
      "curated" -> Main.list(b.curated.select(col("doc_id")).as[Long].collect().sorted.toSeq))
  }

  /** After the measured window: the reference results every build and
    * search record is checked against — the language-gated and
    * exact-deduplicated ids for the DuckDB gate, the engine's exact
    * Jaccard pairs (Dedup.jaccardPairs) for the MinHash path, and its
    * exact top-k (Similarity.bruteTopK) for IVF and PQ. */
  override def finish(rec: Recorder): Unit = lastNear.foreach { case (kept, _) =>
    val en = docs.where(TextExprs.langId(col("text")) === "en")
    val pairs = Dedup.jaccardPairs(kept, "doc_id", "text", Threshold)
      .select(col("d1"), col("d2")).collect()
    val curVecs = spark.read.parquet(lastVecs)
    rec.check("reference",
      "en" -> Main.list(en.select(col("doc_id")).as[Long].collect().sorted.toSeq),
      "exact_kept" -> Main.list(Dedup.exactKeepBest(en, "doc_id", "text", "n_chars")
        .select(col("doc_id")).as[Long].collect().sorted.toSeq),
      "exact_pairs" -> Main.list(pairs.toSeq),
      "exact_topk" -> Main.list((0 until ProbePool).map { bt =>
        val queries = annProbes(bt).map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
        Row(bt, Similarity.bruteTopK(curVecs, queries, "vec_id", "embedding", K).collect().toSeq)
      }))
  }

  /** Traced run: the share of MinHash LSH candidate pairs that verify. */
  override def traceExtras(tr: Tracer): Map[String, Double] = lastNear match {
    case Some((kept, _)) =>
      val cand = Dedup.minhashLshCandidates(kept, "doc_id", "text").count()
      val ver = Dedup.minhashDuplicates(kept, "doc_id", "text", Threshold).count()
      Map("operators.dedup.lsh_useful_ratio" -> (if (cand == 0) 0.0 else ver.toDouble / cand))
    case None => Map.empty
  }
}

object Curation {
  val BaseDocs = 6000
  val Dim = 32
  val Threshold = 0.8
  val Updates = 2
  val ReadsPerUpdate = 3
  val DeltaDocs = 300
  val DeltaIdBase = 10000000L
  val ProbePool = 6
  val ProbesPerBatch = 16
  val K = 10
  val IvfCells = 16
  val NProbe = 4
  val PqM = 8
  val PqK = 16
  val Shortlist = 100
}
