package graft.table

import graft.SparkSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import MergeInto.{Delete, InsertAll, UpdateAll, WhenMatched, WhenNotMatched, src}

/** Generated model check of both MERGE surfaces: seeded small CDC
  * batches (updates, deletes of present and absent keys, inserts,
  * duplicate keys with and without `seqCol`, null keys and null ops,
  * empty batches, replayed batch ids) run through `merge` /
  * `mergeBatch` / `mergeAt`, and the SQL-shaped program
  * `WHEN MATCHED AND op='D' DELETE / WHEN MATCHED UPDATE SET * /
  * WHEN NOT MATCHED AND op<>'D' INSERT *` runs through [[MergeInto]].
  * After every step the table must equal an in-memory row model, and a
  * rejected batch must leave both the version and the rows as they
  * were. Base tables start with duplicate-key and null-key rows, so the
  * model is a row multiset, not a key map. */
class MergeModelSpec extends SparkSuite {

  private type Rows = Vector[(Option[Long], String)]
  private final case class Src(k: Option[Long], v: String,
      op: Option[String], s: Long)

  private def freshDir(tag: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"mmodel_$tag")
    p.toFile.deleteOnExit()
    p.toString
  }

  private val tableSchema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))
  private val srcSchema = StructType(tableSchema.fields ++ Seq(
    StructField("_op", StringType), StructField("s", LongType)))

  private def sorted(rs: Rows): Seq[(Long, String)] =
    rs.map { case (k, v) => (k.getOrElse(Long.MinValue), v) }.sorted

  private def content(dir: String): Rows =
    ManifestTable.read(spark, dir).select("k", "v").collect().toVector
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        r.getString(1)))

  private def frame(batch: Seq[Src]) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(batch.map(b => Row(b.k.map(Long.box).orNull,
      b.v, b.op.orNull, b.s)).asJava, srcSchema)
  }

  /** Base: keys 1..30 over three range files, plus a duplicate-key pair
    * and a null-key row that no merge may disturb unless its key is
    * in the source. */
  private def seed(dir: String): Rows = {
    import scala.jdk.CollectionConverters._
    val base: Rows = (1L to 30L).map(k => (Option(k), s"b$k")).toVector ++
      Vector((Some(5L), "dup"), (None, "nullkey"))
    ManifestTable.create(spark, dir,
      spark.createDataFrame(base.map { case (k, v) =>
        Row(k.map(Long.box).orNull, v) }.asJava, tableSchema)
        .repartitionByRange(3, org.apache.spark.sql.functions.col("k")),
      statsCols = Seq("k"))
    base
  }

  /** A batch of 0..6 rows: keys 1..45 (31..45 absent from the base),
    * one in ten null; ops 'U', 'D' or NULL; unique sequence numbers. */
  private def batch(rnd: scala.util.Random, round: Int): Seq[Src] = {
    val seqs = rnd.shuffle((0L until 8L).toVector)
    Seq.tabulate(rnd.nextInt(7)) { i =>
      val k = if (rnd.nextInt(10) == 0) None else Some(1L + rnd.nextInt(45))
      val op = rnd.nextInt(20) match {
        case 0 => None
        case x if x < 7 => Some("D")
        case _ => Some("U")
      }
      Src(k, s"r${round}_$i", op, seqs(i))
    }
  }

  /** CDC replace-by-key: null keys drop; without seqCol a duplicate key
    * rejects the batch; each source key replaces EVERY base row sharing
    * it by its winner, which lands unless its op is 'D' or NULL. */
  private def cdcModel(base: Rows, b: Seq[Src],
      seq: Boolean): Either[String, Rows] = {
    val byKey = b.filter(_.k.isDefined).groupBy(_.k.get)
    if (!seq && byKey.exists(_._2.size > 1)) Left("duplicate source rows")
    else {
      val winners = byKey.values.map(_.maxBy(_.s)).toSeq
      Right(base.filterNot(_._1.exists(byKey.contains)) ++
        winners.filter(_.op.contains("U")).map(w => (w.k, w.v)))
    }
  }

  /** ANSI MERGE with the CDC-shaped clause list: per target row, its one
    * matching source row deletes it (op 'D') or replaces it (any other
    * op, NULL included); two source rows matching one target row reject
    * the batch; unmatched source rows (null keys included) insert when
    * op <> 'D' holds. */
  private def sqlModel(base: Rows, b: Seq[Src]): Either[String, Rows] = {
    val byKey = b.filter(_.k.isDefined).groupBy(_.k.get)
    val targetKeys = base.flatMap(_._1).toSet
    if (byKey.exists { case (k, rs) => rs.size > 1 && targetKeys(k) })
      Left("multiple source rows match")
    else Right(base.flatMap {
      case (Some(k), _) if byKey.contains(k) =>
        val s = byKey(k).head
        if (s.op.contains("D")) None else Some((s.k, s.v))
      case row => Some(row)
    } ++ b.filter(s => s.k.forall(k => !targetKeys(k)) &&
      s.op.exists(_ != "D")).map(s => (s.k, s.v)))
  }

  private def rootMsg(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")

  /** Runs `op`; a model rejection must throw with its text and commit
    * nothing, an accepted batch must leave exactly the model's rows. */
  private def check(dir: String, step: String, model: Rows,
      expect: Either[String, Rows])(op: => Unit): Rows = {
    val v0 = ManifestTable.snapshot(spark, dir).version
    expect match {
      case Left(why) =>
        val e = intercept[Exception](op)
        assert(rootMsg(e).contains(why), s"$step: ${rootMsg(e)}")
        assert(ManifestTable.snapshot(spark, dir).version == v0,
          s"$step: a rejected batch committed")
        assert(sorted(content(dir)) == sorted(model), step)
        model
      case Right(next) =>
        op
        assert(sorted(content(dir)) == sorted(next), step)
        next
    }
  }

  test("generated CDC batches through merge / mergeBatch / mergeAt " +
    "match the replace-by-key model; empty batches still commit and " +
    "replayed batch ids commit nothing") {
    val rnd = new scala.util.Random(7)
    val dir = freshDir("cdc")
    var model = seed(dir)
    var nextBatch = 0L
    val seen = scala.collection.mutable.Set.empty[String]
    (1 to 16).foreach { round =>
      val b = batch(rnd, round)
      val df = frame(b)
      val seq = rnd.nextBoolean()
      val seqCol = if (seq) Some("s") else None
      val expect = cdcModel(model, b, seq)
      val dupKeys = b.flatMap(_.k).distinct.size < b.count(_.k.isDefined)
      if (b.isEmpty) seen += "empty"
      if (b.exists(_.k.isEmpty)) seen += "null key"
      if (dupKeys) seen += (if (seq) "seqCol duplicates" else "rejected")
      val head = ManifestTable.snapshot(spark, dir)
      val step = s"round $round (seq=$seq, ${b.size} rows)"
      rnd.nextInt(4) match {
        case 0 =>
          model = check(dir, s"merge $step", model, expect) {
            val s = ManifestTable.merge(spark, dir, df, "k",
              opCol = Some("_op"), seqCol = seqCol)
            assert(s.version == head.version + 1 && s.operation == "merge",
              s"merge $step: ${s.operation} v${s.version}")
          }
        case 1 =>
          model = check(dir, s"mergeAt $step", model, expect) {
            val s = ManifestTable.mergeAt(spark, dir, head.version, df, "k",
              opCol = Some("_op"), seqCol = seqCol)
            assert(s.version == head.version + 1, s"mergeAt $step")
          }
        case _ if nextBatch > 0 && rnd.nextInt(3) == 0 =>
          // replay of an id already committed: the head comes back
          val id = rnd.nextInt(nextBatch.toInt).toLong
          val s = ManifestTable.mergeBatch(spark, dir, df, "k", id,
            opCol = Some("_op"), seqCol = seqCol)
          assert(s.version == head.version, s"replayed batch $id committed")
          assert(sorted(content(dir)) == sorted(model), s"replay $step")
          seen += "replay"
        case _ =>
          val id = nextBatch
          model = check(dir, s"mergeBatch $step", model, expect) {
            val s = ManifestTable.mergeBatch(spark, dir, df, "k", id,
              opCol = Some("_op"), seqCol = seqCol)
            assert(s.version == head.version + 1 &&
              s.operation == s"merge@batch=$id" && s.lastBatch == id,
              s"mergeBatch $step: ${s.operation} v${s.version}")
          }
          if (expect.isRight) nextBatch += 1
      }
    }
    assert(seen == Set("empty", "null key", "seqCol duplicates", "rejected",
      "replay"), s"the generator missed a case: saw $seen")
  }

  test("generated batches through the SQL-shaped MergeInto program " +
    "match the ANSI MERGE model; an empty source on a bounded table " +
    "commits nothing") {
    val rnd = new scala.util.Random(7)
    val dir = freshDir("sql")
    var model = seed(dir)
    var rejected = 0
    (1 to 16).foreach { round =>
      val b = batch(rnd, round)
      val head = ManifestTable.snapshot(spark, dir)
      val expect = sqlModel(model, b)
      if (expect.isLeft) rejected += 1
      model = check(dir, s"round $round (${b.size} rows)", model, expect) {
        MergeInto(spark, dir, frame(b), Seq("k"),
          matched = Seq(WhenMatched(Delete, Some(src("_op") === "D")),
            WhenMatched(UpdateAll)),
          notMatched = Seq(WhenNotMatched(InsertAll,
            Some(org.apache.spark.sql.functions.col("_op") =!= "D"))))
      }
      // a file without key bounds (one holding only null keys) is always
      // touched, so only a fully bounded table is a structural no-op
      if (b.isEmpty && head.files.forall(_.longBounds("k").isDefined))
        assert(ManifestTable.snapshot(spark, dir).version == head.version,
          s"round $round: an empty MERGE committed")
    }
    assert(rejected > 0, "the generator never matched a duplicate key")
  }
}
