package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.app.SetupOrchestrator
import graft.core.GraftSession
import graft.lineage.Lineage

/** The benchmark's JVM side: one workload in one JVM.
  *
  * Usage: `perfbench.Harness <config.json>`. `run.py` writes the config
  * (workload, seed, seconds, trace flag, data and work directories, query
  * list) and reads back the raw result this writes to `config.out`: the set-up
  * sample, per-unit and per-operation walls, output checks and, when
  * traced, the per-layer totals and the spans.
  *
  * Workloads drive the public entry points a user calls:
  *   - `etl`: a bulk base load (setup → bronze → silver → gold) into a fresh
  *     warehouse, then daily deltas, each appended to bronze, silver and gold
  *     rebuilt, and the `--monitor` reads run, as CLI users run them;
  *   - `query_mix`: `SparkEntry.queries` in a seeded closed-loop order.
  * The work of a run is fixed by the config, so its timed walls compare
  * across commits; with tracing on, every unit is traced. Work that the cap
  * leaves undone is recorded as failed, so a run that ran out of time
  * cannot pass.
  */
object Harness {
  private val mapper = new ObjectMapper()

  final case class Op(name: String, cls: String, unit: Int, wall: Double,
      build: Double, exec: Double, var ok: Boolean)

  def main(args: Array[String]): Unit = {
    val enteredMs = System.currentTimeMillis()
    val cfg = mapper.readTree(new File(args(0)))
    val out = new java.util.LinkedHashMap[String, Object]()
    val code = Try(new Run(cfg, enteredMs, out).run()) match {
      case Success(_) => 0
      case Failure(e) =>
        out.put("error", s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
        1
    }
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(cfg.get("out").asText), out)
    sys.exit(code)
  }

  /** Peak resident set of this process, from the kernel's high-water mark. */
  def rssPeakMb(): Double =
    Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0))
      .getOrElse(0.0)

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
  }

  final class Run(cfg: JsonNode, enteredMs: Long, out: java.util.LinkedHashMap[String, Object]) {
    private val workload = cfg.get("workload").asText
    // the work of a run is fixed by run.py from --seconds; this cap only
    // bounds a run whose program has become much slower
    private val cap = System.nanoTime() + (cfg.get("cap_seconds").asDouble * 1e9).toLong
    private def withinCap = System.nanoTime() < cap
    private val traceOn = cfg.get("trace").asBoolean
    private val cores = cfg.get("cores").asInt
    private val work = cfg.get("work").asText
    private val data = cfg.get("data").asText
    private val warehouses = mutable.ArrayBuffer.empty[String]
    private val tracer = new Tracer(warehouses.toSeq, if (workload == "query_mix") Some(data) else None)
    private val ops = mutable.ArrayBuffer.empty[Op]
    private val units = mutable.ArrayBuffer.empty[java.util.Map[String, Object]]
    private val checks = mutable.ArrayBuffer.empty[java.util.Map[String, Object]]
    private val errors = mutable.ArrayBuffer.empty[String]

    private def jmap(kv: (String, Any)*): java.util.Map[String, Object] = {
      val m = new java.util.LinkedHashMap[String, Object]()
      kv.foreach { case (k, v) => m.put(k, v.asInstanceOf[Object]) }
      m
    }

    private def error(where: String, e: Throwable): Unit =
      errors += s"$where: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

    // -- set-up ----------------------------------------------------------

    /** Engine warm-up on synthetic input: the scan, aggregate, string and
      * hash paths and a parquet round trip, so the first timed unit does not
      * pay for their class loading alone.
      */
    private def warmup(spark: SparkSession): Unit = {
      val dir = s"$work/warmup"
      spark.range(0, 20000)
        .selectExpr("id", "cast(id % 13 as string) as k", "sha2(cast(id as string), 256) as h")
        .write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir).groupBy(upper(trim(col("k")))).agg(max("h"), sum("id")).collect()
      deleteTree(dir)
    }

    /** The cold set-up a CLI user pays once per process: JVM launch to
      * `main`, the session built, and the engine warmed up.
      */
    private def setUp(): SparkSession = {
      val jvm = (enteredMs - cfg.get("launch_ms").asLong) / 1e3
      val t0 = System.nanoTime()
      val spark = GraftSession.local(cores, cores)
      val t1 = System.nanoTime()
      warmup(spark)
      val t2 = System.nanoTime()
      out.put("setup", jmap("jvm_s" -> jvm, "session_s" -> (t1 - t0) / 1e9,
        "warmup_s" -> (t2 - t1) / 1e9, "total_s" -> (jvm + (t2 - t0) / 1e9)))
      spark
    }

    // -- unit bookkeeping --------------------------------------------------

    /** Runs one unit of timed work; returns its result and wall seconds. */
    private def unit[T](spark: SparkSession)(body: => T): (T, Double) =
      if (traceOn) tracer.traced(spark)(body)
      else {
        val t0 = System.nanoTime()
        val r = body
        (r, (System.nanoTime() - t0) / 1e9)
      }

    /** Times one call into the program as an operation of the given unit. */
    private def op[T](name: String, u: Int, cls: String)(body: => T): Option[T] = {
      val t0 = System.nanoTime()
      val r = Try(tracer.span(name)(body))
      val wall = (System.nanoTime() - t0) / 1e9
      r.failed.foreach(error(name, _))
      ops += Op(name, cls, u, wall, 0.0, 0.0, r.isSuccess)
      r.toOption
    }

    /** Records planned work that the cap left undone as a failed operation. */
    private def skipped(name: String, u: Int, cls: String): Unit = {
      errors += s"$name: skipped, cap of ${cfg.get("cap_seconds").asDouble} s reached"
      ops += Op(name, cls, u, 0.0, 0.0, 0.0, ok = false)
    }

    // -- ETL ---------------------------------------------------------------

    private def expected(load: Int): Map[String, Long] = {
      val e = mapper.readTree(new File(s"$data/manifest.json")).get("loads").get(load).get("expect")
      e.fieldNames().asScala.map(k => k -> e.get(k).asLong).toMap
    }

    /** Compares the warehouse with the generator's declared results, one
      * aggregate per table; a mismatch marks the operation that produced
      * that layer as failed.
      */
    private def check(spark: SparkSession, wh: String, load: Int, u: Int): Unit = {
      def flag(c: Column) = sum(when(c, 1L).otherwise(0L))
      val actual = mutable.Map.empty[String, Long]
      def measure(table: String, prefix: String, aggs: (String, Column)*): Unit = {
        val all = (("rows", count(lit(1))) +: aggs).map { case (k, c) => (s"$prefix.$k", c) }
        Try(spark.read.parquet(s"$wh/$table").agg(all.head._2, all.tail.map(_._2): _*).head()) match {
          case Success(r) => all.indices.foreach { i =>
            actual(all(i)._1) = if (r.isNullAt(i)) 0L else r.get(i).asInstanceOf[Number].longValue
          }
          case Failure(e) => error(s"check $table", e)
        }
      }
      Seq("crm_customers_raw", "crm_products_raw", "erp_customers_raw", "erp_locations_raw",
        "erp_product_categories_raw").foreach(t => measure(s"bronze/$t", s"bronze.$t"))
      measure("bronze/crm_sales_raw", "bronze.crm_sales_raw", "repaired" -> flag(
        col("sls_sales").isNull || col("sls_sales") =!= col("sls_quantity") * col("sls_price")))
      measure("silver/crm_customers", "silver.crm_customers", "male" -> flag(col("cst_gndr") === "Male"))
      measure("silver/crm_products", "silver.crm_products")
      measure("silver/crm_sales", "silver.crm_sales",
        "null_order_dt" -> flag(col("sls_order_dt").isNull), "sum_sales" -> sum(col("sls_sales")))
      measure("silver/erp_customers", "silver.erp_customers",
        "null_bdate" -> flag(col("bdate").isNull), "nas_prefixed" -> flag(col("cid").startsWith("NAS")))
      measure("silver/erp_locations", "silver.erp_locations",
        "germany" -> flag(col("cntry") === "Germany"),
        "united_states" -> flag(col("cntry") === "United States"),
        "na" -> flag(col("cntry") === "n/a"))
      measure("gold/customer_analytics", "gold.customer_analytics", "sum_ltv" -> sum(col("lifetime_value")))
      expected(load).toSeq.sortBy(_._1).foreach { case (key, exp) =>
        val got = actual.get(key)
        val ok = got.contains(exp)
        checks += jmap("unit" -> u, "load" -> load, "name" -> key, "expected" -> exp,
          "actual" -> got.map(Long.box).orNull, "ok" -> ok)
        if (!ok) {
          val layerOp = key.split('.').head match {
            case "bronze" => "app.bronze"
            case "silver" => "app.silver"
            case _        => "app.gold"
          }
          ops.filter(o => o.unit == u && o.name == layerOp).foreach(_.ok = false)
        }
      }
    }

    /** bronze (all six sources) → silver → gold, after the warehouse set-up
      * when `setup`; returns the bronze+silver+gold wall.
      */
    private def load(orch: SetupOrchestrator, dir: String, u: Int, cls: String, setup: Boolean): Double = {
      if (setup) op("app.setup", u, cls) {
        val steps = orch.runCompleteSetup()
        steps.find(!_.ok).foreach(s => throw new IllegalStateException(s"setup step ${s.step}: ${s.error}"))
      }
      val t0 = System.nanoTime()
      op("app.bronze", u, cls) {
        val results = orch.runBronze(dir)
        if (traceOn) {
          val loaded = results.collect { case Success(r) => r }
          tracer.add("bronze.load_s", loaded.map(_.durationSec).sum)
          tracer.add("bronze.rows", loaded.map(_.rowsLoaded).sum.toDouble)
        }
        results.collectFirst { case Failure(e) => throw e }
      }
      op("app.silver", u, cls)(orch.runSilver())
      op("app.gold", u, cls)(orch.runGold())
      (System.nanoTime() - t0) / 1e9
    }

    /** Unit 0 is the bulk base load; units 1..days are the daily deltas. */
    private def etl(spark: SparkSession): Unit = {
      import spark.implicits._
      val loads = mapper.readTree(new File(s"$data/manifest.json")).get("loads")
      val wh = s"$work/wh"
      warehouses += wh
      val orch = new SetupOrchestrator(spark, wh)
      val seeds = Seq("crm_customers_raw", "crm_products_raw", "crm_sales_raw", "erp_customers_raw",
        "erp_locations_raw", "erp_product_categories_raw").map("bronze." + _).toDF("seed")
      (0 until loads.size).foreach { u =>
        if (u > 0 && !withinCap) {
          skipped(s"day $u", u, "step")
          if (u == loads.size - 1) checks += jmap("unit" -> u, "load" -> u, "name" -> "final state",
            "expected" -> "checked", "actual" -> "skipped: cap reached", "ok" -> false)
        } else {
          val rows = loads.get(u).get("rows").asLong
          if (u == 0) {
            val (ingest, wall) = unit(spark)(load(orch, s"$data/base", u, "bulk", setup = true))
            units += jmap("unit" -> u, "kind" -> "bulk", "wall_s" -> wall, "ingest_s" -> ingest, "rows" -> rows)
          } else {
            val ((ingest, monitor), wall) = unit(spark) {
              val ingest = load(orch, f"$data/day_$u%02d", u, "step", setup = false)
              val m0 = System.nanoTime()
              op("audit.process_history", u, "step")(orch.processes.processHistory(30).collect())
              op("audit.perf_summary", u, "step")(orch.perf.summary().collect())
              op("lineage.impact", u, "step") {
                Lineage.impact(orch.lineage.edges(), "src", "dst", seeds, "seed").collect()
              }
              (ingest, (System.nanoTime() - m0) / 1e9)
            }
            // counted outside the traced unit, so the count is not itself an action
            if (traceOn) tracer.add("lineage.edges", orch.lineage.edges().count().toDouble)
            units += jmap("unit" -> u, "kind" -> "day", "wall_s" -> wall, "ingest_s" -> ingest,
              "monitor_s" -> monitor, "rows" -> rows)
          }
          // the bulk state and the final state are checked; every daily
          // append is part of the final bronze counts
          if (u == 0 || u == loads.size - 1) check(spark, wh, u, u)
        }
      }
      deleteTree(wh)
    }

    // -- queries -----------------------------------------------------------

    private def cleanup(spark: SparkSession): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      graft.queries.Pipeline.reapScratch()
    }

    private def queryMix(spark: SparkSession): Unit = {
      val classOf = cfg.get("queries").fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
      val order = cfg.get("order").elements().asScala.map(_.asText).toSeq
      val failed = mutable.Set.empty[String]
      // correctness pass, untimed: every query's full result for the oracle
      // check, which also warms each query's plan and generated code
      val results = s"$work/results"
      val oracle = new java.util.LinkedHashMap[String, Object]()
      classOf.keys.toSeq.sorted.foreach { name =>
        Try(SparkEntry.queries(name)(spark, data).write.mode("overwrite").parquet(s"$results/$name")) match {
          case Success(_) => oracle.put(name, SparkEntry.oracleSql(name))
          case Failure(e) => failed += name; error(s"check $name", e)
        }
        cleanup(spark)
      }
      mapper.writeValue(new File(s"$results/oracle_sql.json"), oracle)
      order.indices.foreach { i =>
        val name = order(i)
        // the first round always runs; later rounds only within the cap
        if (i >= classOf.size && !withinCap) skipped(name, i, classOf(name))
        else {
          var build = 0.0
          val (ok, wall) = unit(spark) {
            Try {
              val t0 = System.nanoTime()
              val df = tracer.span("queries.build")(SparkEntry.queries(name)(spark, data))
              build = (System.nanoTime() - t0) / 1e9
              tracer.span("queries.exec")(df.write.format("noop").mode("overwrite").save())
            } match {
              case Success(_) => true
              case Failure(e) => error(name, e); false
            }
          }
          if (traceOn) {
            tracer.add(s"queries.${classOf(name)}.build_s", build)
            tracer.add(s"queries.${classOf(name)}.exec_s", wall - build)
          }
          ops += Op(name, classOf(name), i, wall, build, wall - build, ok && !failed(name))
          cleanup(spark)
        }
      }
    }

    // -- run ---------------------------------------------------------------

    def run(): Unit = {
      val spark = setUp()
      out.put("provenance", jmap(
        "spark_master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version))
      val t0 = System.nanoTime()
      workload match {
        case "etl"       => etl(spark)
        case "query_mix" => queryMix(spark)
        case other       => throw new IllegalArgumentException(s"unknown workload $other")
      }
      out.put("run_wall_s", Double.box((System.nanoTime() - t0) / 1e9))
      if (traceOn) {
        Seq("app.setup", "app.bronze", "app.silver", "app.gold", "lineage.impact").foreach { n =>
          tracer.add(n + "_s", tracer.spanSeconds(n))
        }
        tracer.add("audit.monitor_s",
          tracer.spanSeconds("audit.process_history") + tracer.spanSeconds("audit.perf_summary"))
      }
      val heapPeak = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0
      out.put("units", units.asJava)
      out.put("ops", ops.map(o => jmap("name" -> o.name, "class" -> o.cls, "unit" -> o.unit,
        "wall_s" -> o.wall, "build_s" -> o.build, "exec_s" -> o.exec, "ok" -> o.ok)).asJava)
      out.put("checks", checks.asJava)
      out.put("errors", errors.asJava)
      out.put("layer_sums", tracer.sums.map { case (k, v) => k -> Double.box(v) }.asJava)
      out.put("spans", tracer.spans.map(s => jmap("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)).asJava)
      out.put("jvm", jmap("heap_peak_mb" -> heapPeak, "rss_peak_mb" -> rssPeakMb()))
      spark.stop()
    }
  }
}
