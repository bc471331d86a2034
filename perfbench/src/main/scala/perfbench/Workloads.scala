package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.{SparkEntry, Tables}
import graft.etl.{CopyPipeline, CoordinatedCommit, Generator, JobConfig, JobObserver, ParquetSink}
import graft.llm.Similarity

import Main.{Ctx, Outcome, Workload}

/** The workloads. Each operation calls the modules' public entry points
  * only; spans mark the layer boundaries the trace reports. */
object Workloads {

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** One SparkEntry query split into build / plan / exec spans. `sink`
    * is the final action that forces the result. */
  private def query(ctx: Ctx, name: String)(sink: DataFrame => Unit): Unit = {
    val t = ctx.tracer
    val df = t.span("query.build_s")(SparkEntry.queries(name)(ctx.spark, ctx.data))
    t.span("query.plan_s")(df.queryExecution.executedPlan)
    t.span("query.exec_s")(sink(df))
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def parquet(path: String)(df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(path)

  /** The warm-up operations of `warm.tsv`. */
  private def warmUp(ctx: Ctx): Seq[Array[String]] = Main.readTsv(s"${ctx.work}/warm.tsv")

  // ---------------------------------------------------------------- etl

  /** Records the two commit phases and the persisted file counts of the
    * reference's observer vocabulary. */
  final class EtlObserver(clock: () => Double) extends JobObserver {
    var files = 0L
    var bytes = 0L
    var stageReady = Double.NaN
    var importReady = Double.NaN
    override def onAllObjectsPersisted(objects: Long, b: Long): Unit = {
      files += objects; bytes += b
    }
    override def onStageReady(jobId: String): Unit = stageReady = clock()
    override def onImportReady(jobId: String): Unit = importReady = clock()
  }

  /** One reference ETL cycle per operation on a fresh root:
    * generate -> write -> read + count -> copy -> coordinated commit to
    * two destinations -> visibility. The root is deleted afterwards. */
  final class EtlBulk extends Workload {
    def setUp(ctx: Ctx): Unit =
      ctx.step("warmup_s")(warmUp(ctx).zipWithIndex.foreach { case (l, j) =>
        cycle(ctx, s"warm$j", l(1).toLong).check()
      })

    def op(ctx: Ctx, i: Int): Outcome = cycle(ctx, s"op$i", ctx.plan(i % ctx.plan.size)(1).toLong)

    private def cycle(ctx: Ctx, tag: String, rows: Long): Outcome = {
      val spark = ctx.spark
      val t = ctx.tracer
      val root = s"${ctx.work}/etl/$tag"
      val obs = new EtlObserver(() => t.now())
      val slices = spark.sparkContext.defaultParallelism
      val df = t.span("etl.generate_s")(Generator.generate(spark, rows, slices))
      val generated = t.span("etl.generate_s")(df.count())
      val written = t.span("etl.write_s")(
        ParquetSink.write(df, s"$root/test", observer = obs, jobId = tag))
      val read = t.span("etl.read_s")(CopyPipeline.read(spark,
        JobConfig(readOptions = Map("path" -> s"$root/test"))).get.count())
      val copied = t.span("etl.copy_s")(CopyPipeline.copyTable(spark, JobConfig(
        writeOptions = Map("path" -> s"$root/test2"),
        readOptions = Map("path" -> s"$root/test")), obs).get)
      val dests = Seq("cluster_1", "cluster_2").map(c =>
        CoordinatedCommit.Destination(c, s"$root/$c"))
      val c0 = t.now()
      val committed = t.span("etl.commit_s")(CoordinatedCommit.write(df, dests, tag, obs))
      val c1 = t.now()
      val visible = t.span("etl.commit_s")(dests.map(d => CoordinatedCommit.visible(d).size))
      val metrics = Map(
        "etl.files_written" -> obs.files.toDouble,
        "etl.bytes_written" -> obs.bytes.toDouble,
        "etl.commit_stage_s" -> (obs.stageReady - c0) / 1e3,
        "etl.commit_import_s" -> (c1 - obs.importReady) / 1e3)
      // q143's lineage invariants, checked outside the timed window
      def check(): Option[String] =
        try {
          val back = committed.map(p => spark.read.parquet(p).count())
          val distinct = spark.read.parquet(s"$root/test2").select(col("course"))
            .distinct().count()
          val counts = Seq("generated" -> generated, "written" -> written,
            "read" -> read, "copied" -> copied, "copy_distinct" -> distinct) ++
            back.zipWithIndex.map { case (n, j) => s"committed_${j + 1}" -> n }
          val bad = counts.filter(_._2 != rows)
          if (bad.nonEmpty) Some(s"lineage: expected $rows rows, got ${bad.mkString(",")}")
          else if (visible != Seq(1, 1)) Some(s"visible commits per destination: $visible")
          else None
        } finally deleteTree(new File(root))
      // rows moved: generated + written + read + copied + two committed
      Outcome("cycle", items = 6.0 * rows, metrics = metrics, check = () => check())
    }
  }

  // --------------------------------------------------------------- tpch

  /** One TPC-H query per operation on sf1x through the `noop` sink. The
    * warm-up runs each query once into parquet: that output is what
    * the oracle check compares. */
  final class Tpch extends Workload {
    def setUp(ctx: Ctx): Unit =
      ctx.step("warmup_s")(ctx.plan.map(_(0)).distinct.foreach { q =>
        query(ctx, q)(parquet(s"${ctx.work}/out/$q"))
        Main.sweep(ctx.spark)
      })

    def op(ctx: Ctx, i: Int): Outcome = {
      val q = ctx.plan(i % ctx.plan.size)(0)
      query(ctx, q)(noop)
      Outcome(q, items = 1)
    }
  }

  // ------------------------------------------------------ vector_serve

  private type Serve = (DataFrame, String, String, Int) => (DataFrame, Long) => Unit

  /** The stream-batch serve entry points, by store kind; `inputs.STORES`
    * picks the ones a run serves (sq8 and bq: lsm's store build, 10-20 s,
    * does not fit the run budget). The ivfpq, ivfsq8 and graph entry
    * points take the same arguments; their builds take 9-35 s each. */
  val serves: Map[String, Serve] = Map(
    "sq8" -> ((e, t, o, k) => Similarity.sq8SearchStreamBatch(e, t, o, k)),
    "bq" -> ((e, t, o, k) => Similarity.bqSearchStreamBatch(e, t, o, k)),
    "lsm" -> ((e, t, o, k) => Similarity.lsmServeStreamBatch(e, t, o, k)))

  val K = 5

  /** One request per operation: a probe batch against one store kind.
    * Plan lines are (kind, request id); the probes of every request are
    * in `probes.parquet`. Results land under `serve/<op>` for the recall
    * check. The first call per kind builds its store (set-up). */
  final class VectorServe extends Workload {
    private var probes: Map[Int, Seq[Row]] = Map.empty
    private var corpus: DataFrame = _
    private val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))

    private def serve(ctx: Ctx, kind: String, request: Int, out: String, batchId: Long): Unit = {
      val batch = ctx.spark.createDataFrame(probes(request).asJava, schema)
      serves(kind)(corpus, "perfbench", out, K)(batch, batchId)
    }

    def setUp(ctx: Ctx): Unit = {
      corpus = Tables.embeddings(ctx.spark, ctx.data)
      probes = ctx.step("probes_s") {
        ctx.spark.read.parquet(s"${ctx.work}/probes.parquet").collect().toSeq
          .groupBy(_.getAs[Int]("request_id"))
          .map { case (r, rows) => r -> rows.map(x => Row(x.getAs[Long]("vec_id"),
            x.getSeq[Float](x.fieldIndex("embedding")))) }
      }
      // the first request per kind builds its store; the rest warm up
      val built = scala.collection.mutable.Set.empty[String]
      warmUp(ctx).zipWithIndex.foreach { case (Array(kind, request), j) =>
        val step = if (built.add(kind)) s"store.build_s.$kind" else "warmup_s"
        ctx.step(step)(serve(ctx, kind, request.toInt, s"${ctx.work}/warm/$j", -1 - j))
        Main.sweep(ctx.spark)
      }
      deleteTree(new File(s"${ctx.work}/warm"))
    }

    def op(ctx: Ctx, i: Int): Outcome = {
      val Array(kind, request) = ctx.plan(i % ctx.plan.size).take(2)
      val r = request.toInt
      ctx.tracer.span(s"store.serve_s.$kind")(
        serve(ctx, kind, r, s"${ctx.work}/serve/op$i", i.toLong))
      Outcome(s"$kind:$r", items = probes(r).size)
    }
  }

  // --------------------------------------------------- index_lifecycle

  /** One lifecycle query per operation (build -> ingest generations ->
    * compact or retrain -> audit). Each result lands under `out/op<i>`
    * for the oracle check. */
  final class Lifecycle extends Workload {
    def setUp(ctx: Ctx): Unit =
      ctx.step("warmup_s")(warmUp(ctx).foreach { l =>
        query(ctx, l(0))(noop)
        Main.sweep(ctx.spark)
      })

    def op(ctx: Ctx, i: Int): Outcome = {
      val q = ctx.plan(i % ctx.plan.size)(0)
      ctx.tracer.span(s"lifecycle.${q}_s")(query(ctx, q)(parquet(s"${ctx.work}/out/op$i")))
      Outcome(q, items = 1)
    }
  }
}
