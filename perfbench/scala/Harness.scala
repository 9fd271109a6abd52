package perfbench

import java.io.File

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.SparkEntry
import graft.core.QueryDef
import graft.rentals.{DataQuality, Io, Orchestration, Transforms}
import org.apache.spark.sql.SparkSession

import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** JVM side of the benchmark: one process runs one plan written by
  * `perfbench/run.py` and writes its measurements as JSON.
  *
  * Usage: Harness <plan.json> <result.json>
  *
  * Modes:
  *  - `product`: one rentals product run composed as `PipelineMain` does
  *    it — stage `run_transforms` (readRawCsv → runPipeline →
  *    writeProcessed), then stage `run_dq_checks` (readProcessed →
  *    runQualityChecks(standardChecks)).
  *  - `transform_noop`: readRawCsv → runPipeline into the `noop` sink, so a
  *    traced run can split the write's own share out of `write_processed`.
  *  - `passes`: registry queries from `SparkEntry.queries`. The first pass
  *    writes each result to parquet for the oracle check; untimed warm-up
  *    passes into `noop` follow, then timed passes into `noop` until both the
  *    minimum pass count and the time budget are spent.
  */
object Harness {
  private val mapper = new ObjectMapper()

  /** Module whose query list registers each query. */
  private lazy val modules: Seq[(String, Seq[QueryDef])] = {
    import graft.streaming.Streams._
    Seq(
      "rentals" -> graft.rentals.RentalsDemo.queries,
      "ops" -> Seq(graft.ops.Relational.all, graft.ops.Analytics.all, graft.ops.Events.all,
        graft.ops.Sketches.all, graft.ops.RuntimeFilter.all, graft.ops.Layout.all,
        graft.ops.Physical.all, graft.ops.Ranking.all, graft.ops.Graph.all).flatten,
      "text" -> Seq(graft.text.TextAnalysis.all, graft.text.Dedup.all, graft.text.Corpus.all,
        graft.text.LanguageModel.all).flatten,
      "vector" -> graft.vector.Similarity.all,
      "multimodal" -> graft.multimodal.Multimodal.all,
      "sources" -> graft.sources.Roundtrips.all,
      "streaming" -> Seq(streamingHourly, streamingHourlyAppend, streamingDedupExact,
        streamStreamJoin, streamStaticJoin, streamingUserTotals, streamingSessionWindows,
        streamingTypeCounts, streamingHoppingAppend, streamingIncrementalSink,
        streamingTwsTypeStats, streamStreamLeftJoin, streamStreamFullJoin,
        streamingAsofEnrich, streamingStatefulRestart))
  }

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val res = mapper.createObjectNode()
    val cores = plan.get("cores").asInt
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", plan.get("local_dir").asText)
    if (plan.get("mode").asText == "passes")
      builder.config(graft.sources.SeqCatalog.DefaultStorageConf, "parquet")
    val spark = builder.withExtensions(new graft.core.GraftExtensions).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    res.put("ready_at", Clock.now())
    val tracer = new Tracer(spark)
    if (plan.get("trace").asBoolean) tracer.install()
    val heap = new HeapMonitor
    heap.install()
    try plan.get("mode").asText match {
      case "product" => product(spark, plan, tracer, heap, res)
      case "transform_noop" => transformNoop(spark, plan, tracer, res)
      case "passes" => passes(spark, plan, tracer, heap, res)
    } finally {
      tracer.write(res.putArray("spans"))
      mapper.writeValue(new File(args(1)), res)
      spark.stop()
    }
  }

  private def errText(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"

  private def product(spark: SparkSession, plan: JsonNode, tracer: Tracer,
      heap: HeapMonitor, res: ObjectNode): Unit = {
    val csv = plan.get("csv").asText
    val outDir = plan.get("out").asText
    // PipelineMain's StageRunner with its one retry, minus the five-minute
    // back-off: a failed run is counted, not waited out
    val runner = new Orchestration.StageRunner(
      "rental_market_etl", Orchestration.RetryPolicy(retryDelay = Duration.Zero))
    tracer.enabled = plan.get("trace").asBoolean
    tracer.unit = "product"
    val gc0 = Clock.gcSeconds()
    heap.active = true
    val t0 = Clock.now()
    val err =
      try {
        tracer.span("product") {
          runner.run("run_transforms") {
            tracer.span("stage.run_transforms") {
              val raw = tracer.span("rentals.read_csv")(Io.readRawCsv(spark, csv))
              tracer.span("rentals.write_processed")(
                Io.writeProcessed(raw.transform(Transforms.runPipeline), outDir))
            }
          }
          runner.run("run_dq_checks") {
            tracer.span("stage.run_dq_checks") {
              val processed = tracer.span("rentals.read_processed")(Io.readProcessed(spark, outDir))
              tracer.span("rentals.dq_gate")(
                DataQuality.runQualityChecks(processed, DataQuality.standardChecks()))
            }
          }
        }
        None
      } catch { case NonFatal(e) => Some(errText(e)) }
    val t1 = Clock.now()
    heap.active = false
    val u = res.putArray("units").addObject()
    u.put("kind", "product")
    u.put("traced", tracer.enabled)
    u.put("wall_s", t1 - t0)
    u.put("ok", err.isEmpty)
    err.foreach(u.put("err", _))
    u.put("gc_s", Clock.gcSeconds() - gc0)
    u.put("peak_live_heap_mb", heap.peakMb)
    u.put("stage_attempts", runner.reports.map(_.attempts).sum)
  }

  private def transformNoop(spark: SparkSession, plan: JsonNode, tracer: Tracer, res: ObjectNode): Unit = {
    tracer.enabled = plan.get("trace").asBoolean
    tracer.unit = "transform_noop"
    val t0 = Clock.now()
    val err =
      try {
        tracer.span("rentals.transform_noop") {
          Io.readRawCsv(spark, plan.get("csv").asText).transform(Transforms.runPipeline)
            .write.format("noop").mode("overwrite").save()
        }
        None
      } catch { case NonFatal(e) => Some(errText(e)) }
    val u = res.putArray("units").addObject()
    u.put("kind", "transform_noop")
    u.put("traced", tracer.enabled)
    u.put("wall_s", Clock.now() - t0)
    u.put("ok", err.isEmpty)
    err.foreach(u.put("err", _))
  }

  private def passes(spark: SparkSession, plan: JsonNode, tracer: Tracer,
      heap: HeapMonitor, res: ObjectNode): Unit = {
    val dir = plan.get("data_dir").asText
    val names = plan.get("queries").elements.asScala.map(_.asText).toSeq
    val groups = names.map(n => n -> plan.get("groups").get(n).asText).toMap
    val registry = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val traced = plan.get("trace").asBoolean
    val tablesRoot = new File(plan.get("tables_root").asText)

    // every registered query with the module list(s) that register it, so
    // the launcher can check its static family/group tables against the code
    val mods = res.putObject("modules")
    val owners = modules.flatMap { case (m, qs) => qs.map(_.name -> m) }.groupMap(_._1)(_._2)
    registry.keys.toSeq.sorted.foreach { n =>
      val a = mods.putArray(n)
      owners.getOrElse(n, Nil).foreach(a.add)
    }
    def derivedNow(): Int = graft.core.Pinned.drainTouched().count(_._2)
    val units = res.putArray("units")

    // first pass, also the warm-up: each result to parquet for the oracle check
    val checkDir = plan.get("check_dir").asText
    val checkErrs = res.putObject("check_errors")
    val sqls = res.putObject("oracle_sql")
    names.foreach { n =>
      try registry(n)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$n")
      catch { case NonFatal(e) => checkErrs.put(n, errText(e)) }
      oracle.get(n).foreach(sqls.put(n, _))
    }
    // untimed noop passes: the first noop execution of a query still runs
    // well above its warm time after the parquet check pass
    for (_ <- 0 until plan.get("warm_passes").asInt; n <- names)
      try registry(n)(spark, dir).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(e) => checkErrs.put(n, errText(e)) }
    res.put("setup_pinned_derivations", derivedNow())
    res.put("setup_done_at", Clock.now())

    def timedPass(i: Int, traceThis: Boolean): Unit = {
      tracer.enabled = traceThis
      tracer.unit = s"pass-$i"
      val filesBefore = if (traceThis) Some(listFiles(tablesRoot)) else None
      val gc0 = Clock.gcSeconds()
      heap.active = true
      val ops = mapper.createArrayNode()
      val t0 = Clock.now()
      tracer.span("pass") {
        names.foreach { n =>
          val q0 = Clock.now()
          val err =
            try {
              tracer.span(groups(n))(registry(n)(spark, dir).write.format("noop").mode("overwrite").save())
              None
            } catch { case NonFatal(e) => Some(errText(e)) }
          val op = ops.addObject()
          op.put("name", n)
          op.put("s", Clock.now() - q0)
          op.put("ok", err.isEmpty)
          err.foreach(op.put("err", _))
        }
      }
      val t1 = Clock.now()
      heap.active = false
      val u = units.addObject()
      u.put("kind", "pass")
      u.put("unit", tracer.unit)
      u.put("traced", traceThis)
      u.put("wall_s", t1 - t0)
      u.put("ok", ops.elements.asScala.forall(_.get("ok").asBoolean))
      u.put("gc_s", Clock.gcSeconds() - gc0)
      u.put("peak_live_heap_mb", heap.peakMb)
      u.put("pinned_derivations", derivedNow())
      filesBefore.foreach { before =>
        val fresh = listFiles(tablesRoot) -- before
        u.put("data_files_written", fresh.count(_.endsWith(".parquet")))
        u.put("meta_files_written", fresh.count(!_.endsWith(".parquet")))
      }
      u.set("ops", ops)
    }
    val deadline = Clock.now() + plan.get("seconds").asDouble
    // a traced run alternates traced and untraced passes (at least one of
    // each) so it can report its own tracing overhead
    val minPasses = math.max(plan.get("min_passes").asInt, if (traced) 2 else 1)
    var i = 0
    while (i < minPasses || Clock.now() < deadline) {
      timedPass(i, traceThis = traced && i % 2 == 0)
      i += 1
    }
  }

  private def listFiles(root: File): Set[String] = {
    val out = Set.newBuilder[String]
    def walk(f: File): Unit =
      Option(f.listFiles).getOrElse(Array.empty[File]).foreach { c =>
        if (c.isDirectory) walk(c) else out += c.getPath
      }
    walk(root)
    out.result()
  }
}
