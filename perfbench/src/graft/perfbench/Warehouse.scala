package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.{Callable, Executors, LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Dashboard, OrderEtl, ProductEtl, SalesTaxonomy, SemanticView}
import graft.perfbench.Main.Recorder
import graft.sources.{CsvIngest, WarehouseStore}
import graft.streaming.IncrementalIngest

/** `warehouse`: the reference pipeline end to end, one client in a closed
  * loop. A round is
  *
  *  1. build: one bulk load of the order export into an empty warehouse,
  *     CSV on disk → committed manifest (CsvIngest → OrderEtl →
  *     ProductEtl → SalesTaxonomy → WarehouseStore.save);
  *  2. update: [[Warehouse.Drops]] daily drops through `IncrementalIngest`
  *     (`maxFilesPerTrigger = 1`) into that warehouse, each timed from
  *     file visible to manifest committed;
  *  3. read: [[Warehouse.Pages]] dashboard page refreshes over the
  *     committed warehouse. A page's visuals are submitted together to a
  *     pool of `threads` driver threads, as Power BI fires a page's
  *     visuals; the next page starts when the slowest visual returns.
  *     Each page draws its year slicer, subcategory category and pivot
  *     platforms from the seed. */
final class Warehouse(spark: SparkSession, seed: Long, threads: Int) extends Main.Workload {
  import Warehouse._

  private var dir: File = _
  private def ordersCsv = new File(dir, "orders.csv").getPath
  private def productsCsv = new File(dir, "products.csv").getPath
  private def dropCsv(k: Int) = new File(dir, s"drops/drop$k.csv")
  private val pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
    val t = new Thread(r, "perfbench-visual")
    t.setDaemon(true)
    t
  })

  def opsPerRound: Int = 1 + Drops + Pages * Visuals.size

  def setup(d: File): Map[String, Gen.Sizes] = {
    dir = d
    val sizes = Map(
      "orders.csv" -> Gen.orders(ordersCsv, seed, 1, 0, BulkOrders, Customers, Products),
      "products.csv" -> Gen.productMaster(productsCsv, seed, Products))
    sizes ++ (0 until Drops).map { k =>
      s"drops/drop$k.csv" -> Gen.orders(dropCsv(k).getPath, seed, 100 + k,
        BulkOrders + k * DropOrders, DropOrders, Customers, Products)
    }
  }

  def round(i: Int, tr: Tracer, rec: Recorder): Unit = {
    val whPath = new File(dir, s"wh$i").getAbsolutePath
    val t0 = System.nanoTime()
    val loaded = try { bulkLoad(tr, whPath); true } catch {
      case scala.util.control.NonFatal(e) =>
        rec.fail(s"bulk load $i", e)
        rec.skip(opsPerRound - 1)
        false
    }
    if (loaded) {
      rec.build((System.nanoTime() - t0) / 1e9)
      rec.check("etl", "csvs" -> Main.list(Seq(ordersCsv)),
        "products" -> productsCsv, "tables" -> committed(whPath))
      Main.sweep(spark)
      drops(i, tr, rec, whPath)
      Main.sweep(spark)
      // the warm-up round (i < 0) compiles the page's plans with one page
      (0 until (if (i < 0) 1 else Pages)).foreach { p =>
        page(math.abs(i) * Pages + p, tr, rec, whPath)
        Main.sweep(spark)
      }
    }
    Main.sweep(spark)
  }

  /** Bulk load from an empty warehouse. */
  private def bulkLoad(tr: Tracer, whPath: String): Unit = {
    val raw = tr.span("sources.csv_read") {
      tr.force(CsvIngest.readAllString(spark, ordersCsv))
    }
    val stg = tr.span("etl.clean_stage", prefix = Seq(raw)) {
      tr.force(OrderEtl.toStaging(OrderEtl.cleanOrders(raw)))
    }
    val wh = tr.span("operators.dim_upsert", prefix = Seq(stg)) {
      val w = OrderEtl.loadWarehouse(OrderEtl.emptyWarehouse(spark), stg)
      Seq(w.dimPlatform, w.dimProduct, w.dimCustomer, w.dimDate).foreach(tr.force)
      w
    }
    tr.span("etl.fact_load")(tr.force(wh.factSales))
    val dimProduct = tr.span("etl.product_enrich") {
      tr.force(SalesTaxonomy(ProductEtl.run(spark, productsCsv, wh.dimProduct)))
    }
    val full = wh.copy(dimProduct = dimProduct)
    tr.span("sources.warehouse_commit",
        prefix = Seq(full.dimDate, full.dimCustomer, full.dimProduct, full.dimPlatform,
          full.factSales)) {
      WarehouseStore.save(full, whPath)
    }
  }

  /** The daily drops of round `i`, one micro-batch each. */
  private def drops(i: Int, tr: Tracer, rec: Recorder, whPath: String): Unit = {
    val watched = new File(dir, s"in$i")
    watched.mkdirs()
    val commits = new LinkedBlockingQueue[java.lang.Long]()
    @volatile var openDrop: Option[Tracer.Open] = None
    val q = IncrementalIngest.start(spark, watched.getAbsolutePath,
      new File(dir, s"ckpt$i").getAbsolutePath, Gen.OrderCols,
      load = () => WarehouseStore.load(spark, whPath),
      save = next => {
        tr.span("sources.warehouse_commit", parent = openDrop) {
          WarehouseStore.save(next, whPath)
        }
        commits.put(System.nanoTime())
      },
      availableNow = false, maxFilesPerTrigger = Some(1))
    try {
      var k = 0
      // the warm-up round (i < 0) compiles the drop's plans with one drop
      val n = if (i < 0) 1 else Drops
      while (k < n) {
        val staged = new File(dir, s"stage_${i}_$k.csv")
        Files.copy(dropCsv(k).toPath, staged.toPath, StandardCopyOption.REPLACE_EXISTING)
        openDrop = tr.openAliased("streaming.drop_batch", q.runId.toString)
        val t0 = System.nanoTime()
        Files.move(staged.toPath, new File(watched, s"drop$k.csv").toPath,
          StandardCopyOption.ATOMIC_MOVE)
        val t1 = commits.poll(TimeoutS, TimeUnit.SECONDS)
        openDrop.foreach(tr.finish)
        openDrop = None
        if (t1 == null) {
          rec.fail(s"drop $i/$k", q.exception.getOrElse(
            new java.util.concurrent.TimeoutException("no commit")))
          rec.skip(n - k - 1)
          k = n
        } else {
          rec.update((t1 - t0) / 1e6)
          rec.check("etl", "csvs" -> Main.list(ordersCsv +: (0 to k).map(dropCsv(_).getPath)),
            "products" -> productsCsv, "tables" -> committed(whPath))
          Main.sweep(spark, stopStreams = false)
          k += 1
        }
      }
    } finally q.stop()
  }

  /** Page parameters for page `n` — a pure function of (seed, n). */
  private def params(n: Int): Params = {
    val r = new java.util.SplittableRandom(seed * 31 + n)
    val plats = new scala.util.Random(r.nextLong()).shuffle(Gen.Platforms).take(2 + r.nextInt(2))
    Params(Gen.Years(r.nextInt(Gen.Years.size)),
      Gen.Categories(r.nextInt(Gen.Categories.size)), plats)
  }

  private def page(n: Int, tr: Tracer, rec: Recorder, whPath: String): Unit = {
    val p = params(n)
    val t0 = System.nanoTime()
    val results = tr.codegenWindow("etl.dashboard_visual") {
      val wh = tr.span("sources.warehouse_read", codegen = false) {
        WarehouseStore.load(spark, whPath)
      }
      val view = SemanticView.salesProductGeo(wh).where(col("year") === p.year)
      Visuals.map { v =>
        pool.submit(new Callable[(String, Option[(Seq[String], Array[Row])], Double)] {
          def call() = {
            val s = System.nanoTime()
            val span = if (v == "fact_year_months") "sources.warehouse_read"
                       else "etl.dashboard_visual"
            val out = try Some(tr.span(span, codegen = false) {
              val df = visual(v, view, wh, p, whPath)
              (df.columns.toSeq, df.collect())
            }) catch {
              case scala.util.control.NonFatal(e) => rec.fail(s"visual $v", e); None
            }
            (v, out, Main.msSince(s))
          }
        })
      }.map(_.get(TimeoutS, TimeUnit.SECONDS))
    }
    rec.readPhase((System.nanoTime() - t0) / 1e9)
    val tables = committed(whPath)
    results.foreach { case (v, out, ms) =>
      out.foreach { case (cols, rows) =>
        rec.read(ms)
        rec.check("visual", "visual" -> v, "year" -> Int.box(p.year),
          "category" -> p.category, "platforms" -> Main.list(p.platforms),
          "columns" -> Main.list(cols), "rows" -> Main.list(rows.toSeq),
          "tables" -> tables)
      }
    }
  }

  private def visual(v: String, view: DataFrame, wh: OrderEtl.Warehouse, p: Params,
                     whPath: String): DataFrame = v match {
    case "units_by_state" => Dashboard.unitsByState(view)
    case "platform_share" => Dashboard.platformShare(view)
    case "platform_by_state_pivot" => Dashboard.platformByStatePivot(view, p.platforms)
    case "subcategory_units" => Dashboard.subcategoryUnits(view, p.category)
    case "dow_trend" => Dashboard.dowTrend(view)
    case "platform_rank_by_state" => Dashboard.platformRankByState(view)
    case "a2_sku_count" => Dashboard.skuCountPerSubcategory(wh.dimProduct)
    case "a3_units_per_subcategory" => Dashboard.unitsPerSubcategory(wh.factSales, wh.dimProduct)
    case "a4_top_other_furniture" => Dashboard.topOtherFurniture(wh.factSales, wh.dimProduct)
    case "fact_year_months" =>
      WarehouseStore.loadFactYear(spark, whPath, p.year)
        .groupBy(col("p_month")).agg(sum(col("units")).as("units"),
          count(lit(1)).as("n_rows"))
  }

  /** The committed file-set of the warehouse at `path`, by table. */
  private def committed(path: String): java.util.Map[String, AnyRef] = {
    val fs = graft.operators.StoreSwap.fsOf(spark, path)
    val (_, rel) = graft.operators.StoreSwap.latestManifest(fs, path)
      .getOrElse(throw new IllegalStateException(s"no manifest at $path"))
    val out = new java.util.LinkedHashMap[String, AnyRef]()
    rel.groupBy(_.takeWhile(_ != '/')).toSeq.sortBy(_._1).foreach { case (t, fs) =>
      out.put(t, Main.list(fs.sorted.map(f => new File(path, f).getAbsolutePath)))
    }
    out
  }
}

object Warehouse {
  val BulkOrders = 32000
  val DropOrders = 250
  val Drops = 3
  val Pages = 4
  val Customers = 5000
  val Products = 2000
  val TimeoutS = 120L

  val Visuals: Seq[String] = Seq("units_by_state", "platform_share",
    "platform_by_state_pivot", "subcategory_units", "dow_trend",
    "platform_rank_by_state", "a2_sku_count", "a3_units_per_subcategory",
    "a4_top_other_furniture", "fact_year_months")

  final case class Params(year: Int, category: String, platforms: Seq[String])
}
