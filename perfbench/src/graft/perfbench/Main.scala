package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

import graft.SparkEntry
import graft.table.{ManifestTable, MergeInto}

/** Context handed to one op's body: its id, root span and, when the op
  * is traced, the trace its child spans go to. */
final class Ctx(val op: Long, val root: Long, val trace: Option[Trace]) {
  def span[T](name: String)(body: => T): T =
    trace.fold(body)(_.span(op, root, name)(body))
}

/** Closed loop, one client, one op in flight. Each op is timed from the
  * call into the library to the returned answer; its answer check runs
  * after the clock stops. Ops come in cycles, each with the same mix of
  * work, and the window takes whole cycles until the summed time of the
  * ops that succeeded reaches `seconds` and at least `minOps` ops ran
  * (or the plan runs dry). In a traced run every other op of each kind
  * is traced, so the traced and the untraced half hold the same mix and
  * the run also measures what tracing costs. */
final class Runner(spark: SparkSession, seconds: Double, minOps: Int,
    trace: Option[Trace]) {
  val records = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var busyUs = 0L
  private var nextOp = 1L
  private val ofKind = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val wallStart = System.nanoTime()

  /** The wall cap keeps a slow build of the program inside the
    * harness's time limit; it never ends a healthy run. */
  def overCap: Boolean =
    (System.nanoTime() - wallStart) / 1e9 > seconds * 3 + 10

  def done: Boolean =
    (busyUs >= seconds * 1e6 && records.size >= minOps) || overCap

  /** Run whole cycles of ops until the window is done. */
  def cycles[A](plan: Iterator[List[A]])(op: A => Unit): Unit =
    while (!done && plan.hasNext) plan.next().foreach(a => if (!overCap) op(a))

  /** Table-layer counters the program already keeps. */
  private def tableCounters: Map[String, Long] = Map(
    "table.delta_parses" -> ManifestTable.deltaParses.get,
    "table.checkpoint_loads" -> ManifestTable.checkpointLoads.get,
    "table.bloom_footer_opens" -> ManifestTable.bloomFooterOpens.get,
    "table.bloom_distributed_probes" -> ManifestTable.bloomDistributedProbes.get,
    "table.bloom_probe_timeouts" -> ManifestTable.bloomProbeTimeouts.get,
    "table.sweep_distributed_files" -> ManifestTable.sweepDistributedFiles.get,
    "table.single_pass_merges" -> MergeInto.singlePassMerges.get)

  private def jvmCounters: Map[String, Double] = {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val bytes = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE
    Map(
      "jvm.jit_s" -> Jvm.jitS,
      "jvm.gc_s" -> Jvm.gcS,
      "codegen.compile_s" -> CodeGenerator.compileTime / 1e9,
      "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen.classes" -> bytes.getCount.toDouble,
      "codegen.class_mean_kb" -> bytes.getSnapshot.getMean / 1024.0)
  }

  /** Run one op. `body` returns the answer check, run untimed; it
    * yields None when the answer is right and a reason when it is not. */
  def run(kind: String, name: String)(body: Ctx => () => Option[String]): Unit = {
    val op = nextOp
    nextOp += 1
    val tr = trace.filter(_ => ofKind(kind) % 2 == 0)
    ofKind(kind) += 1
    val root = tr.map(_.newId()).getOrElse(0L)
    val ctx = new Ctx(op, root, tr)
    tr.foreach(_.begin(op, root))
    val (jvm0, tab0) = (tr.map(_ => jvmCounters), tr.map(_ => tableCounters))
    val cpu0 = Jvm.cpuNs
    val t0 = Clock.nowUs
    val outcome: Either[String, () => Option[String]] =
      try Right(body(ctx)) catch { case NonFatal(e) =>
        Left(s"${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).linesIterator.take(1).mkString)
      }
    val t1 = Clock.nowUs
    val cpu1 = Jvm.cpuNs
    tr.foreach { t =>
      t.end()
      t.record(Span(root, 0L, op, s"op.$kind", t0, t1))
      val jvm1 = jvmCounters
      for (k <- Seq("jvm.jit_s", "jvm.gc_s", "codegen.compile_s",
          "codegen.compiles"))
        t.add(k, jvm1(k) - jvm0.get(k))
      t.add("codegen.bytecode_kb", (jvm1("codegen.classes") -
        jvm0.get("codegen.classes")) * jvm1("codegen.class_mean_kb"))
      for ((k, v) <- tableCounters) t.add(k, (v - tab0.get(k)).toDouble)
    }
    val check = outcome match {
      case Left(err) => Some(err)
      case Right(checker) =>
        try checker() catch { case NonFatal(e) =>
          Some(s"check failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
    }
    // a failed op is no timing: it neither fills the window nor counts
    // in the latency figures
    if (check.isEmpty) busyUs += t1 - t0
    else System.err.println(s"[perfbench] op $op $kind $name: ${check.get}")
    records += Map("id" -> op, "kind" -> kind, "name" -> name,
      "t0_us" -> t0, "t1_us" -> t1, "cpu_s" -> (cpu1 - cpu0) / 1e9,
      "threw" -> outcome.isLeft, "error" -> check.getOrElse(""),
      "traced" -> tr.nonEmpty)
  }
}

object Main {
  implicit val formats: Formats = DefaultFormats

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.catalog.cat", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.cat.warehouse", s"$work/lake")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Untimed answer rows → parquet, for the oracle compare after exit. */
  def dumpAnswer(spark: SparkSession, rows: Array[Row],
      schema: org.apache.spark.sql.types.StructType, path: String): Unit =
    spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(path)

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("list") => // registry name → oracle SQL (null: none)
      println(Serialization.write(SparkEntry.registry.map(q =>
        q.name -> q.oracle.orNull).toMap))
    case Some("run") => run(args(1))
    case _ =>
      System.err.println("usage: Main list | Main run <plan.json>")
      sys.exit(2)
  }

  def run(planPath: String): Unit = {
    val plan = JsonMethods.parse(new String(
      Files.readAllBytes(Paths.get(planPath)), "UTF-8"))
    val workload = (plan \ "workload").extract[String]
    val cores = (plan \ "cores").extract[Int]
    val seconds = (plan \ "seconds").extract[Double]
    val traced = (plan \ "trace").extract[Boolean]
    val data = (plan \ "data").extract[String]
    val work = (plan \ "work").extract[String]
    val warmup = (plan \ "warmup").extract[String]
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spinBefore = Jvm.spinProbe()
    // Set-up, from JVM launch (less the spin probe's time): session
    // ready, warm-up answered and, for the lakehouse, its base table built.
    val t0Ms = jvmStartMs + (spinBefore * 1e3).toLong
    val spark = session(cores, work)
    SparkEntry.queries(warmup)(spark, data).collect()
    val lake = if (workload == "lakehouse")
      Some(new Lakehouse(spark, data, s"$work/lake", plan \ "lake"))
    else None
    val setup = (System.currentTimeMillis() - t0Ms) / 1e3

    val trace = if (traced) Some(new Trace(spark)) else None
    trace.foreach(_.install())
    val runner = new Runner(spark, seconds, (plan \ "min_ops").extract[Int], trace)
    val answers = s"$work/answers"
    val extra: Map[String, Any] = workload match {
      case "olap_mix" =>
        runner.cycles((plan \ "cycles").extract[List[List[String]]].iterator) { q =>
          runner.run("query", q) { ctx =>
            val df = ctx.span("build")(SparkEntry.queries(q)(spark, data))
            val rows = ctx.span("action")(df.collect())
            () => { dumpAnswer(spark, rows, df.schema, s"$answers/$q"); None }
          }
        }
        Map.empty
      case "olap_hot" =>
        // untimed warm pass: its answers go to the oracle compare, and
        // every timed answer must equal them
        val first = mutable.Map.empty[String, Array[Row]]
        for (q <- (plan \ "warm").extract[List[String]]) try {
          val df = SparkEntry.queries(q)(spark, data)
          val rows = df.collect()
          first(q) = rows
          dumpAnswer(spark, rows, df.schema, s"$answers/$q")
        } catch { case NonFatal(e) =>
          System.err.println(s"[perfbench] warm pass $q: ${e.getMessage}")
        }
        runner.cycles((plan \ "passes").extract[List[List[String]]].iterator) { q =>
          runner.run("query", q) { ctx =>
            val df = ctx.span("build")(SparkEntry.queries(q)(spark, data))
            val rows = ctx.span("action")(df.collect())
            () => first.get(q) match {
              case Some(w) if rows.sameElements(w) => None
              case Some(w) => Some(s"answer differs from the warm pass " +
                s"(${rows.length} rows vs ${w.length})")
              case None => Some("the warm pass of this query failed")
            }
          }
        }
        Map.empty
      case "lakehouse" => lake.get.run(runner)
    }
    val spinAfter = Jvm.spinProbe()
    val (spans, counters) = trace.map(_.snapshot)
      .getOrElse((Nil, Map.empty[String, Double]))
    val out = Map(
      "workload" -> workload, "cores" -> cores,
      "setup_s" -> setup,
      "spin_s" -> List(spinBefore, spinAfter),
      "rss_peak_mb" -> Jvm.rssPeakMb,
      "code_cache_mb" -> Jvm.codeCacheMb,
      "ops" -> runner.records.toList,
      "counters" -> counters,
      "spans" -> spans.map(s => List(s.id, s.parent, s.op, s.name, s.t0, s.t1)),
      "extra" -> extra)
    Files.writeString(Paths.get(s"$work/result.json"), Serialization.write(out))
    spark.stop()
  }
}
