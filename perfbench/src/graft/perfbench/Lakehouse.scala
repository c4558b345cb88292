package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.TreeMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._

import graft.core.Tables
import graft.table.{ManifestTable, MergeInto}

/** The `lakehouse` workload: one long-lived manifest table built from
  * `orders`, driven by the op stream of the plan through the Scala
  * facade (`ManifestTable`, `MergeInto`) and through SQL on
  * `GraftCatalog`. A reference model — a key → row map per committed
  * version, kept without the table layer — checks every read, every
  * time-travel read and the final snapshot. */
final class Lakehouse(spark: SparkSession, data: String, warehouse: String,
    plan: JValue) {
  implicit val formats: Formats = DefaultFormats
  type Model = TreeMap[Long, Seq[Any]]

  private val ns = "bench"
  private val dir = s"$warehouse/$ns/orders"
  private val sqlName = s"cat.$ns.orders"
  private val Key = "o_orderkey"

  private val base = Tables.orders(spark, data)
  private val schema: StructType = base.schema
  private val cols = schema.fieldNames.toSeq

  // the base table arrives in `loads` commits of consecutive key ranges
  // (one file each), as an incrementally loaded table does
  private val loads = (plan \ "loads").extract[Int]
  private val keys = (plan \ "keys").extract[Long]
  for (i <- 0 until loads) {
    val slice = base.where(col(Key) >= keys * i / loads &&
      col(Key) < keys * (i + 1) / loads).repartition(1)
    if (i == 0) ManifestTable.create(spark, dir, slice,
      statsCols = Seq(Key, "o_orderdate"), bloomCols = Seq("o_custkey"))
    else ManifestTable.append(spark, dir, slice)
  }

  private def range(lo: Long, hi: Long): Column = col(Key).between(lo, hi)

  /** Plan row [key, cust, status, price cents, day offset, priority]
    * → a row of the table's schema. */
  private def tableRow(v: List[JValue]): Row = {
    val day = java.time.LocalDateTime.of(1995, 1, 1, 0, 0)
      .plusDays(v(4).extract[Long])
    Row(v(0).extract[Long], v(1).extract[Long], v(2).extract[String],
      v(3).extract[Long] / 100.0,
      schema("o_orderdate").dataType match {
        case TimestampNTZType => day
        case _ => java.sql.Timestamp.from(day.toInstant(java.time.ZoneOffset.UTC))
      },
      v(5).extract[String])
  }

  private def frame(rows: Seq[Row], extra: Seq[StructField]): DataFrame =
    spark.createDataFrame(rows.asJava, StructType(schema.fields ++ extra))

  private def key(r: Seq[Any]): Long = r.head.asInstanceOf[Long]

  /** The rows of `got` must be exactly `want`, keys unique. */
  private def same(got: Array[Row], want: Iterable[Seq[Any]]): Option[String] = {
    val g = got.map(_.toSeq)
    val gm = g.map(r => key(r) -> r).toMap
    val wm = want.map(r => key(r) -> r).toMap
    if (gm.size != g.length) Some(s"duplicate keys in ${g.length} rows")
    else if (gm != wm) {
      val bad = (gm.keySet ++ wm.keySet).find(k => gm.get(k) != wm.get(k))
      Some(s"${g.length} rows vs ${wm.size} expected; first difference at " +
        s"key ${bad.getOrElse(-1)}: ${bad.flatMap(gm.get)} vs ${bad.flatMap(wm.get)}")
    } else None
  }

  /** Runs the plan's first cycle untimed, as the warm-up of a long-lived
    * pipeline, then the timed window; every op of both is checked. */
  def run(runner: Runner): Map[String, Any] = {
    val warm = new Runner(spark, Double.MaxValue, 0, None)
    var current = warm
    var model: Model = TreeMap.from(spark.read.parquet(s"$data/orders.parquet")
      .collect().map(r => r.getLong(0) -> r.toSeq.toSeq))
    val start = ManifestTable.snapshot(spark, dir)
    val rowBytes = start.files.map(_.bytes).sum.toDouble / math.max(1, model.size)
    var head = start.version
    val versions = mutable.Map(head -> model)
    var oldest = head
    var headFiles = start.files.map(f => f.path -> f.bytes).toMap
    val logDir = Paths.get(dir, "_graft_log")

    /** After a write: learn the committed version, record the model
      * and, for a traced op, what the commit wrote. */
    def committed(ctx: Ctx, next: Model, rowsWritten: Long): Option[String] = {
      val snap = ManifestTable.snapshot(spark, dir)
      val v = snap.version
      ctx.trace.foreach { t =>
        val added = snap.files.filterNot(f => headFiles.contains(f.path))
        t.add("table.bytes_written", added.map(_.bytes).sum.toDouble)
        t.add("table.bytes_logical", rowsWritten * rowBytes)
        for (c <- head + 1 to v) {
          val delta = logDir.resolve(f"v$c%020d.json")
          t.add("table.commits", 1)
          t.add("table.log_kb", Files.size(delta) / 1024.0)
          val seal = logDir.resolve(f"c$c%020d.json")
          if (Files.exists(seal)) {
            t.add("table.checkpoints", 1)
            t.add("table.checkpoint_s", math.max(0L,
              Files.getLastModifiedTime(seal).toMillis -
                Files.getLastModifiedTime(delta).toMillis) / 1e3)
          }
        }
      }
      headFiles = snap.files.map(f => f.path -> f.bytes).toMap
      for (c <- head + 1 to v) versions(c) = next
      head = v
      model = next
      None
    }

    def writeOp(kind: String)(body: Ctx => (Model, Long)): Unit =
      current.run(kind, kind) { ctx =>
        val (next, n) = body(ctx)
        () => committed(ctx, next, n)
      }

    def readOp(kind: String, filter: Option[Column])(
        body: Ctx => Array[Row])(want: => Iterable[Seq[Any]]): Unit =
      current.run(kind, kind) { ctx =>
        ctx.trace.foreach { t =>
          val snap = ctx.span("table.snapshot")(ManifestTable.snapshot(spark, dir))
          filter.foreach { f =>
            val kept = ctx.span("table.prune") {
              if (kind == "needle") ManifestTable.pruneFilesBloom(spark, dir, snap, f)
              else ManifestTable.pruneFiles(snap, f)
            }
            t.add("table.files_kept", kept.size)
            t.add("table.files_seen", snap.files.size)
          }
        }
        val rows = body(ctx)
        () => same(rows, want)
      }

    def upsertRows(src: List[List[JValue]]): Seq[(Row, String)] =
      src.map(v => tableRow(v) -> v(6).extract[String])

    val opField = StructField("op", StringType)
    def exec(op: JValue): Unit = {
      def lo = (op \ "lo").extract[Long]
      def hi = (op \ "hi").extract[Long]
      def rows = (op \ "rows").extract[List[List[JValue]]]
      (op \ "kind").extract[String] match {
        case "append" => writeOp("append") { ctx =>
          val src = rows.map(tableRow)
          val df = ctx.span("build")(frame(src, Nil))
          ctx.span("table.append")(ManifestTable.append(spark, dir, df))
          (model ++ src.map(r => r.getLong(0) -> r.toSeq), src.size.toLong)
        }
        case "merge" => writeOp("merge") { ctx =>
          val src = upsertRows(rows)
          val df = ctx.span("build")(frame(
            src.map { case (r, o) => Row.fromSeq(r.toSeq ++ Seq(o, 1L)) },
            Seq(opField, StructField("seq", LongType))))
          ctx.span("table.merge")(ManifestTable.merge(spark, dir, df, Key,
            opCol = Some("op"), seqCol = Some("seq")))
          (src.foldLeft(model) { case (m, (r, o)) =>
            if (o == "D") m - r.getLong(0) else m.updated(r.getLong(0), r.toSeq)
          }, src.size.toLong)
        }
        case kind @ ("merge_into" | "sql_merge") => writeOp(kind) { ctx =>
          val src = upsertRows(rows)
          val df = ctx.span("build")(frame(
            src.map { case (r, o) => Row.fromSeq(r.toSeq :+ o) }, Seq(opField)))
          if (kind == "merge_into") ctx.span("table.merge_into") {
            MergeInto(spark, dir, df, keys = Seq(Key),
              matched = Seq(
                MergeInto.WhenMatched(MergeInto.Delete,
                  Some(MergeInto.src("op") === "D")),
                MergeInto.WhenMatched(MergeInto.Update(Map(
                  "o_totalprice" -> MergeInto.src("o_totalprice"),
                  "o_orderpriority" -> MergeInto.src("o_orderpriority"))))),
              notMatched = Seq(MergeInto.WhenNotMatched(
                MergeInto.Insert(cols.map(c => c -> col(c)).toMap),
                Some(col("op") =!= "D"))))
          } else ctx.span("sources.sql_dml") {
            df.createOrReplaceTempView("perfbench_src")
            spark.sql(s"""MERGE INTO $sqlName AS t USING perfbench_src AS s
              |ON t.$Key = s.$Key
              |WHEN MATCHED AND s.op = 'D' THEN DELETE
              |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice,
              |  o_orderpriority = s.o_orderpriority
              |WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT (${cols.mkString(", ")})
              |  VALUES (${cols.map("s." + _).mkString(", ")})""".stripMargin)
          }
          (src.foldLeft(model) { case (m, (r, o)) =>
            val k = r.getLong(0)
            m.get(k) match {
              case Some(_) if o == "D" => m - k
              case Some(old) => m.updated(k, old.updated(3, r.get(3)).updated(5, r.get(5)))
              case None if o != "D" => m.updated(k, r.toSeq)
              case None => m
            }
          }, src.size.toLong)
        }
        case "sql_update" => writeOp("sql_update") { ctx =>
          val (l, h) = (lo, hi)
          ctx.span("sources.sql_dml")(spark.sql(
            s"UPDATE $sqlName SET o_orderpriority = '9-BENCH', " +
              s"o_totalprice = o_totalprice + 1.0 WHERE $Key BETWEEN $l AND $h"))
          val hit = model.range(l, h + 1)
          (model ++ hit.map { case (k, r) =>
            k -> r.updated(5, "9-BENCH").updated(3, r(3).asInstanceOf[Double] + 1.0)
          }, hit.size.toLong)
        }
        case "sql_delete" => writeOp("sql_delete") { ctx =>
          val (l, h) = (lo, hi)
          ctx.span("sources.sql_dml")(spark.sql(
            s"DELETE FROM $sqlName WHERE $Key BETWEEN $l AND $h"))
          (model -- model.range(l, h + 1).keys, 0L)
        }
        case kind @ ("delete" | "dv_delete") => writeOp(kind) { ctx =>
          val (l, h) = (lo, hi)
          if (kind == "delete")
            ctx.span("table.delete")(ManifestTable.delete(spark, dir, range(l, h)))
          else ctx.span("table.dv_delete")(
            ManifestTable.deleteVector(spark, dir, range(l, h)))
          (model -- model.range(l, h + 1).keys, 0L)
        }
        case "update" => writeOp("update") { ctx =>
          val (l, h) = (lo, hi)
          ctx.span("table.update")(ManifestTable.update(spark, dir, range(l, h),
            Map("o_orderstatus" -> lit("U"))))
          val hit = model.range(l, h + 1)
          (model ++ hit.map { case (k, r) => k -> r.updated(2, "U") }, hit.size.toLong)
        }
        case "compact" => writeOp("compact") { ctx =>
          ctx.span("table.compact")(ManifestTable.compact(spark, dir))
          (model, 0L)
        }
        case "vacuum" => writeOp("vacuum") { ctx =>
          val keep = (op \ "keep").extract[Int]
          ctx.span("table.vacuum")(ManifestTable.vacuum(spark, dir, keepLast = keep))
          oldest = math.max(oldest, head - keep + 1)
          (model, 0L)
        }
        case "range_read" =>
          val (l, h) = (lo, hi)
          readOp("range_read", Some(range(l, h))) { ctx =>
            val df = ctx.span("build")(ManifestTable.read(spark, dir, range(l, h)))
            ctx.span("action")(df.collect())
          }(model.range(l, h + 1).values)
        case "needle" =>
          val c = (op \ "cust").extract[Long]
          val f = col("o_custkey") === c
          readOp("needle", Some(f)) { ctx =>
            val df = ctx.span("build")(ManifestTable.read(spark, dir, f))
            ctx.span("action")(df.collect())
          }(model.values.filter(_(1) == c))
        case "sql_read" =>
          val (l, h) = (lo, hi)
          readOp("sql_read", Some(range(l, h))) { ctx =>
            ctx.span("sources.read")(spark.sql(
              s"SELECT * FROM $sqlName WHERE $Key BETWEEN $l AND $h").collect())
          }(model.range(l, h + 1).values)
        case "time_travel" =>
          val (l, h) = (lo, hi)
          val v = math.max(oldest, head - (op \ "back").extract[Long])
          val want = versions(v)
          readOp("time_travel", None) { ctx =>
            val df = ctx.span("build")(
              ManifestTable.readVersion(spark, dir, v).where(range(l, h)))
            ctx.span("action")(df.collect())
          }(want.range(l, h + 1).values)
        case "changes" =>
          val from = math.max(oldest, head - (op \ "back").extract[Long])
          val (a, b) = (versions(from), model)
          current.run("changes", "changes") { ctx =>
            val df = ctx.span("build")(ManifestTable.changes(spark, dir, from, head))
            val got = ctx.span("action")(df.collect())
            () => {
              val g = got.map(r => (r.toSeq.init, r.getString(r.length - 1))).toSet
              val w = b.values.filterNot(r => a.get(key(r)).contains(r))
                .map(_ -> "I").toSet ++
                a.values.filterNot(r => b.get(key(r)).contains(r)).map(_ -> "D")
              if (g.size == got.length && g == w) None
              else Some(s"changelog v$from..v$head: ${got.length} rows vs ${w.size}")
            }
          }
      }
    }
    val cycles = (plan \ "cycles").extract[List[List[JValue]]]
    warm.cycles(cycles.take(1).iterator)(exec)
    current = runner
    runner.cycles(cycles.drop(1).iterator)(exec)
    // untimed: the final snapshot against the model, and the space the
    // table takes on disk against its live data
    val finalCheck = same(ManifestTable.read(spark, dir).collect(), model.values)
    finalCheck.foreach(e => System.err.println(s"[perfbench] final snapshot: $e"))
    val live = ManifestTable.snapshot(spark, dir).files.map(_.bytes).sum
    val onDisk = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum
    Map("final_ok" -> finalCheck.isEmpty, "final_error" -> finalCheck.getOrElse(""),
      "space_amp" -> onDisk.toDouble / math.max(1L, live),
      "versions" -> head, "rows" -> model.size,
      "warm_ops" -> warm.records.size,
      "warm_failed" -> warm.records.count(_("error") != ""))
  }
}
