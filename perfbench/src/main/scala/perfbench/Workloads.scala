package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import minietl.config.Config
import minietl.pipeline.RunCaches

/** One operation of a round: a pipeline run, a stream drain or a battery
  * query. `seconds` is the time spent in the program's calls; the output
  * check happens after the run, against the files listed in `outputs`.
  */
final case class Op(name: String, seconds: Double, cpuS: Double, error: Option[String],
                    outputs: Map[String, String], info: Map[String, Any])

/** A workload: staging (no Spark job), then identical rounds of operations.
  * Every round runs the same operations in the same order, so the share of
  * failed operations does not depend on how many rounds fit in a run.
  */
abstract class Workload(val spark: SparkSession, val inputs: String, val work: String,
                        val tracer: Tracer) {
  def stage(): Unit = ()
  def round(r: Int): Seq[Op]
  /** Untimed extras recorded after the last round. */
  def afterRun(): Map[String, Any] = Map.empty

  protected def outDir(r: Int, name: String): String = s"$work/out/r$r/$name"

  protected def read(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), "UTF-8")

  /** Run one timed operation; a thrown error fails it (the run goes on). */
  protected def op(name: String, outputs: Map[String, String])(
      body: => Map[String, Any]): Op = {
    val d = tracer.depth
    val (t0, cpu0) = (System.nanoTime(), ProcessCpu.seconds)
    def done(error: Option[String], info: Map[String, Any]) =
      Op(name, (System.nanoTime() - t0) / 1e9, ProcessCpu.seconds - cpu0, error, outputs, info)
    try {
      val info = tracer.span(s"op.$name", "op")(body)
      done(None, info)
    } catch {
      case e: Throwable =>
        tracer.unwindTo(d)
        done(Some(e.toString.take(500)), Map.empty)
    }
  }

  // ---------------------------------------------------------- config runs

  /** parse → validate → build → run of a batch pipeline config, with a
    * span per call. Traced runs also get a span per stage composition:
    * the `withOnStage` hook fires as each stage starts composing, and an
    * appended identity stage marks where the last one ends and the sink
    * action begins.
    */
  protected def runPipeline(text: String, env: Map[String, String]): Map[String, Any] = {
    val cfg = tracer.span("config.parse", "config")(Config.parse(text, env))
    val errs = tracer.span("config.validate", "config")(Config.validate(cfg))
    require(errs.isEmpty, s"invalid config: ${errs.mkString("; ")}")
    val built = tracer.span("config.build", "config")(Config.build(cfg))
    val p =
      if (!tracer.enabled) built
      else built.addTransformer(identity, Workload.EndMarker).withOnStage { ctx =>
        tracer.end() // the source read, or the previous stage
        if (ctx.label == Workload.EndMarker) tracer.begin("pipeline.sink", "pipeline")
        else tracer.begin(s"stage.${ctx.label}", Workload.stageLayer(ctx.label))
      }
    val d = tracer.depth
    tracer.begin("pipeline.source", "io")
    val stats = try p.run(spark) finally tracer.unwindTo(d)
    Map("rows" -> stats.rows)
  }

  protected def runDag(text: String, env: Map[String, String]): Map[String, Any] = {
    val cfg = tracer.span("config.parse", "config")(Config.parseDag(text, env))
    val errs = tracer.span("config.validate", "config")(Config.validateDag(cfg))
    require(errs.isEmpty, s"invalid dag config: ${errs.mkString("; ")}")
    val dag = tracer.span("config.build", "config")(Config.buildDag(cfg))
    val counts = tracer.span("dag.run", "dag")(dag.run(spark))
    Map("sink_rows" -> counts)
  }

  /** One `runAvailableNow` drain, split into the drain proper and the
    * after-drain history compaction.
    */
  protected def drain(text: String, env: Map[String, String]): Map[String, Any] = {
    val cfg = tracer.span("config.parse", "config")(Config.parseStream(text, env))
    val errs = tracer.span("config.validate", "config")(Config.validateStream(cfg))
    require(errs.isEmpty, s"invalid stream config: ${errs.mkString("; ")}")
    val sp = tracer.span("config.build", "config")(Config.buildStream(cfg))
    tracer.span("streaming.drain", "streaming") {
      sp.startWith(spark, Some(Trigger.AvailableNow())).awaitTermination()
    }
    sp.afterDrain.foreach(f => tracer.span("streaming.compact", "streaming")(f(spark)))
    Map.empty
  }

  /** Rows in and out of every stage, from a stage-by-stage re-composition
    * of the config with each intermediate persisted (traced runs only,
    * after the timed rounds). For a fixpoint `span_dedup` stage the number
    * of excising rounds is recorded too.
    */
  protected def stageCounts(text: String, env: Map[String, String]): Seq[Map[String, Any]] =
    RunCaches.scoped {
      val cfg = Config.parse(text, env)
      var prev: DataFrame = Config.build(cfg.copy(transformers = Nil)).frame(spark).persist()
      var rowsIn = prev.count()
      cfg.transformers.map { t =>
        val label = if (t.typ == "aggregate" || t.typ == "group") "group_agg" else t.typ
        val rounds =
          if (t.typ == "span_dedup" && t.options.get("fixpoint").exists(_.toString.toBoolean)) {
            def opt(k: String, d: Int) = t.options.get(k).map(_.toString.toDouble.toInt).getOrElse(d)
            val (out, n) = minietl.dedup.Winnow.spanDedupFixpointWithStats(prev,
              t.options("text").toString, t.options("key").toString, opt("k", 4),
              opt("min_span_tokens", 8), opt("max_postings", minietl.dedup.Dedup.DefaultMaxBucket),
              opt("max_iter", 10))
            out.count()
            Some(n)
          } else None
        val next = Config.build(cfg.copy(transformers = Seq(t)))
          .setSource(_ => prev).frame(spark).persist()
        val rowsOut = next.count()
        prev.unpersist()
        prev = next
        val row = Map("label" -> label, "layer" -> Workload.stageLayer(label),
          "rows_in" -> rowsIn, "rows_out" -> rowsOut) ++ rounds.map("span_rounds" -> _)
        rowsIn = rowsOut
        row
      }
    }
}

object Workload {
  val EndMarker = "__perfbench_end"

  /** The module a pipeline stage type is implemented in. */
  def stageLayer(label: String): String = label match {
    case "normalize_text" | "squeeze_repeats" | "dedup_lines" | "lm_surprise" |
         "contamination_filter" | "feature_hash" | "naive_bayes_filter" | "dsir_select" |
         "paragraph_dedup" | "bpe_stats" | "semantic_decontaminate" => "text"
    case "exact_dedup" | "minhash_dedup" | "span_dedup" => "dedup"
    case "semdedup" | "random_projection" => "sim"
    case "image_dhash_dedup" | "image_neardup_dedup" | "audio_hash_dedup" => "multimodal"
    case "quantile_sketch" => "sketch"
    case _ => "ops"
  }

  def apply(name: String, spark: SparkSession, inputs: String, work: String,
            tracer: Tracer): Workload = name match {
    case "etl_relational" => new EtlRelational(spark, inputs, work, tracer)
    case "curation_batch" => new CurationBatch(spark, inputs, work, tracer)
    case "ingest_stream" => new IngestStream(spark, inputs, work, tracer)
    case "battery_mix" => new BatteryMix(spark, inputs, work, tracer)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** One YAML batch pipeline and one `dag:` config over dirty TPC-H-shaped
  * tables. Round 0's pipeline goes through the CLI entry point.
  */
final class EtlRelational(spark: SparkSession, inputs: String, work: String, tracer: Tracer)
    extends Workload(spark, inputs, work, tracer) {
  private val pipelineText = read(s"$work/configs/etl_pipeline.yaml")
  private val dagText = read(s"$work/configs/etl_dag.yaml")
  private def env(r: Int) = Map("IN_DIR" -> inputs, "OUT_DIR" -> s"$work/out/r$r")

  override def stage(): Unit = {
    val first = Config.substituteEnv(pipelineText, env(0))
    Files.writeString(Paths.get(s"$work/configs/etl_pipeline_r0.yaml"), first)
  }

  def round(r: Int): Seq[Op] = Seq(
    op("pipeline", Map("summary" -> outDir(r, "summary"))) {
      if (r == 0) {
        val (code, msg) = minietl.cli.Main.execute(
          Seq("run", s"$work/configs/etl_pipeline_r0.yaml"), () => spark)
        require(code == 0, msg)
        Map("cli" -> msg)
      } else runPipeline(pipelineText, env(r))
    },
    op("dag", Map("positive" -> outDir(r, "positive"), "negative" -> outDir(r, "negative"))) {
      runDag(dagText, env(r))
    })

  override def afterRun(): Map[String, Any] =
    if (tracer.enabled) Map("stage_counts" -> stageCounts(pipelineText, env(0))) else Map.empty
}

/** The training-data pipeline example (span dedup in fixpoint mode) over a
  * seeded replica corpus. Round 0 goes through the CLI entry point.
  */
final class CurationBatch(spark: SparkSession, inputs: String, work: String, tracer: Tracer)
    extends Workload(spark, inputs, work, tracer) {
  private val text = read(s"$work/configs/curation.yaml")
  private def env(r: Int) = Map("CORPUS_DIR" -> inputs, "OUT_DIR" -> s"$work/out/r$r")

  override def stage(): Unit =
    Files.writeString(Paths.get(s"$work/configs/curation_r0.yaml"),
      Config.substituteEnv(text, env(0)))

  def round(r: Int): Seq[Op] = Seq(
    op("pipeline", Map("cleaned" -> outDir(r, "cleaned"))) {
      if (r == 0) {
        val (code, msg) = minietl.cli.Main.execute(
          Seq("run", s"$work/configs/curation_r0.yaml"), () => spark)
        require(code == 0, msg)
        Map("cli" -> msg)
      } else runPipeline(text, env(r))
    })

  override def afterRun(): Map[String, Any] =
    if (tracer.enabled) Map("stage_counts" -> stageCounts(text, env(0))) else Map.empty
}


/** K document batches, each staged (a file copy) and then drained through
  * the near-dup history stream config. Every round starts from empty
  * history, checkpoint and source directories, so drain k reads the
  * history the k earlier drains appended and compacted.
  */
final class IngestStream(spark: SparkSession, inputs: String, work: String, tracer: Tracer)
    extends Workload(spark, inputs, work, tracer) {
  private val text = read(s"$work/configs/stream_neardup.yaml")
  private val batches: Seq[Path] = {
    val ls = Files.list(Paths.get(inputs))
    try ls.iterator().asScala.filter(_.getFileName.toString.startsWith("batch_")).toSeq.sortBy(_.toString)
    finally ls.close()
  }

  private def batchDirs(dir: String): String = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) ""
    else {
      val ls = Files.list(p)
      try ls.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("batch="))
        .toSeq.sorted.mkString(",")
      finally ls.close()
    }
  }

  def round(r: Int): Seq[Op] = {
    val base = s"$work/out/r$r"
    val src = Paths.get(s"$base/src")
    Files.createDirectories(src)
    val env = Map("DOCS_DIR" -> src.toString, "OUT_DIR" -> s"$base/near")
    batches.zipWithIndex.map { case (b, k) =>
      Files.copy(b, src.resolve(b.getFileName))
      val o = op(s"drain_$k", Map("corpus" -> s"$base/near/corpus"))(drain(text, env))
      // the micro-batch directories present after the drain: what it has
      // admitted so far
      o.copy(info = o.info + ("corpus_batches" -> batchDirs(s"$base/near/corpus")))
    }
  }
}

/** Battery queries from `graft.SparkEntry` on fixed generated tables, one
  * or two per layer the pipelines never reach. Each is constructed, then
  * forced by writing every row and column to parquet, which is also the
  * output the oracle check reads. Cached intermediates are released after
  * each query, as the battery's own runner does.
  */
final class BatteryMix(spark: SparkSession, inputs: String, work: String, tracer: Tracer)
    extends Workload(spark, inputs, work, tracer) {
  private val all = graft.SparkEntry.queries

  def round(r: Int): Seq[Op] = BatteryMix.queries.map { case (q, layer) =>
    val out = outDir(r, q)
    op(q, Map("result" -> out)) {
      val df = tracer.span(s"$layer.$q.construct", layer)(all(q)(spark, inputs))
      tracer.span(s"$layer.$q.exec", layer) {
        df.write.mode("overwrite").parquet(out)
        spark.catalog.clearCache()
      }
      Map.empty
    }
  }

  override def afterRun(): Map[String, Any] = {
    val sql = graft.SparkEntry.oracleSql
    Map("oracle_sql" -> BatteryMix.queries.flatMap { case (q, _) => sql.get(q).map(q -> _) }.toMap)
  }
}

object BatteryMix {
  /** (query, layer) */
  val queries: Seq[(String, String)] = Seq(
    "q_pagerank" -> "graph",
    "q_semdedup_recluster" -> "sim",
    "q_ann_topk_int8" -> "sim",
    "q_image_neardup_dedup" -> "multimodal",
    "q_audio_neardup_dedup" -> "multimodal",
    "q_kmv_distinct" -> "sketch",
    "q_funnel" -> "events",
    "q_cohort_retention" -> "events")
}
