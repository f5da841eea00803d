package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.sources.ManifestTable

/** Generated CDC on a GraftCatalog table keyed by `o_orderkey`, loaded in
  * set-up from `orders` in date order. Every pass runs the same ops, the
  * writes with heavy-tailed batch sizes (10 to 10k rows), and ends with
  * an OPTIMIZE; the seed orders them and generates their keys and rows.
  * Keys are recent (hot) or uniform (cold) ones in fixed shares. An in-memory model
  * of the table checks every read exactly, and the final table row for
  * row. Writes are timed until the new version is visible. */
final class Lakehouse(run: Main.Run, data: String, work: String,
    corrupt: Option[String]) extends Workload {
  import Lakehouse._
  private val spark = run.spark
  private val rnd = new scala.util.Random(run.seed)

  private val schema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType)))

  final class Table(val name: String) {
    val ident = s"graft.bench.$name"
    val path = s"$work/lake/bench/$name"
    var model: Map[Long, Rec] = Map.empty
    /** table version -> model at that version */
    val snapshots = mutable.LinkedHashMap.empty[Long, Map[Long, Rec]]
    var nextKey = 0L
    var minDay = 0
    var maxDay = 0
    /** the version at the start of each pass */
    val passStarts = mutable.ArrayBuffer.empty[Long]
    def version: Long = ManifestTable.latestVersion(path)
  }

  private val table = new Table("orders")
  private var changedRows = 0L
  private var filesBefore = Map.empty[String, Long]
  private var versionBefore = 0L
  private var corruptPending = corrupt.isDefined
  private val liveBytesAtRead = mutable.ArrayBuffer.empty[(Int, Long)]

  // ── set-up ──────────────────────────────────────────────────────────

  /** A row in the table's column order, as a model entry. */
  private def toRec(r: Row): (Long, Rec) =
    r.getLong(0) -> Rec(r.getLong(1), r.getString(2), math.round(r.getDouble(3) * 100),
      r.getDate(4).toLocalDate.toEpochDay.toInt, r.getString(5))

  private lazy val source: Array[(Long, Rec)] =
    spark.read.parquet(s"$data/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate").cast("date"), col("o_orderpriority"))
      .collect().map(toRec)

  private def rows(recs: Iterable[(Long, Rec)], op: Long => Option[String] = _ => None): java.util.List[Row] =
    recs.map { case (k, r) =>
      val base = Seq(k, r.cust, r.status, r.cents / 100.0,
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(r.day)), r.prio)
      Row.fromSeq(base ++ op(k).toSeq)
    }.toSeq.asJava

  private def view(name: String, recs: Iterable[(Long, Rec)]): Unit =
    spark.createDataFrame(rows(recs), schema).createOrReplaceTempView(name)

  /** Creates the table and loads `orders` into it in four date-ordered
    * inserts, so that the files are date-clustered. */
  private def load(t: Table): Unit = {
    spark.sql(s"""CREATE TABLE ${t.ident} (o_orderkey BIGINT, o_custkey BIGINT,
      o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate DATE, o_orderpriority STRING)
      TBLPROPERTIES ('merge.keys'='o_orderkey')""")
    val sorted = source.sortBy(x => (x._2.day, x._1))
    sorted.grouped((sorted.length + 3) / 4).foreach { chunk =>
      view("lh_batch", chunk)
      spark.sql(s"INSERT INTO ${t.ident} SELECT * FROM lh_batch")
      t.model ++= chunk
      t.snapshots(t.version) = t.model
    }
    t.nextKey = source.map(_._1).max + 1
    t.minDay = source.map(_._2.day).min
    t.maxDay = source.map(_._2.day).max
  }

  def setup(): Unit = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.bench")
    load(table)
  }

  // ── op generation ───────────────────────────────────────────────────

  /** A hot key (among the 500 newest) or a cold one (uniform). */
  private def key(t: Table, hot: Boolean): Long =
    if (hot) t.nextKey - 1 - rnd.nextInt(500).toLong
    else (rnd.nextDouble() * t.nextKey).toLong

  private def newRec(t: Table, k: Long): Rec =
    Rec(rnd.nextInt(1500).toLong, Statuses(rnd.nextInt(3)), 100000L + rnd.nextInt(49900000),
      t.maxDay + 1 + ((k - t.nextKey) / 50).toInt, Priorities(rnd.nextInt(5)))

  private def newRecs(t: Table, n: Int): Seq[(Long, Rec)] = {
    val recs = (0 until n).map(i => t.nextKey + i -> newRec(t, t.nextKey + i))
    t.nextKey += n
    t.maxDay = math.max(t.maxDay, recs.last._2.day)
    recs
  }

  private def keyRange(t: Table, n: Int, hot: Boolean): (Long, Long) = {
    val a = math.max(0L, math.min(key(t, hot), t.nextKey - n))
    (a, a + n)
  }

  // ── ops ─────────────────────────────────────────────────────────────

  private def check(ok: Boolean, what: => String): Option[String] =
    if (ok) None else Some(what)

  /** Applies the perturbation of the corrupted-result self-test to the
    * first read result it sees. */
  private def maybeCorrupt(x: Long): Long =
    if (corruptPending) { corruptPending = false; x + 1 } else x

  private def write(t: Table, kind: String, pass: Int, apply: Map[Long, Rec] => Map[Long, Rec])(
      body: => Unit): Unit = {
    val v0 = t.version
    val next = apply(t.model)
    val changed = diffSize(t.model, next)
    // a write that changes no row (a range already deleted) may commit
    // nothing; one that changes rows must publish a new version
    val r = run.op(kind, kind, pass) {
      body
      check(changed == 0 || t.version > v0,
        s"no new version after $kind of $changed rows")
    }
    if (r.ok) {
      changedRows += changed
      t.model = next
      t.snapshots(t.version) = t.model
    }
  }

  private def diffSize(a: Map[Long, Rec], b: Map[Long, Rec]): Long =
    if (a eq b) 0L
    else b.count { case (k, r) => !a.get(k).contains(r) }.toLong + a.keysIterator.count(!b.contains(_))

  private def sumCents = "coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT)), 0)"

  private def writeOp(t: Table, pass: Int, kind: String, n: Int): Unit = {
    kind match {
      case "insert" =>
        val recs = newRecs(t, n)
        view("lh_batch", recs)
        write(t, "insert", pass, _ ++ recs) {
          spark.sql(s"INSERT INTO ${t.ident} SELECT * FROM lh_batch")
        }
      case "merge" =>
        val existing = (0 until n * 4 / 5).map(i => key(t, i % 2 == 0)).distinct.filter(t.model.contains)
        val ins = newRecs(t, math.max(1, n / 5))
        val ops = existing.map(k => k -> (if (rnd.nextInt(8) == 0) "D" else "U")).toMap
        val src = existing.map { k =>
          val r = t.model(k)
          k -> r.copy(status = "M", cents = r.cents + 1 + rnd.nextInt(1000))
        } ++ ins
        spark.createDataFrame(rows(src, k => Some(ops.getOrElse(k, "I"))),
          schema.add("op", StringType)).createOrReplaceTempView("lh_batch")
        write(t, "merge", pass, m => m -- ops.collect { case (k, "D") => k } ++
            src.filterNot { case (k, _) => ops.get(k).contains("D") }) {
          spark.sql(s"""MERGE INTO ${t.ident} AS t USING lh_batch AS s
            ON t.o_orderkey = s.o_orderkey
            WHEN MATCHED AND s.op = 'D' THEN DELETE
            WHEN MATCHED THEN UPDATE SET o_orderstatus = s.o_orderstatus, o_totalprice = s.o_totalprice
            WHEN NOT MATCHED AND s.op = 'I' THEN INSERT (o_orderkey, o_custkey, o_orderstatus,
              o_totalprice, o_orderdate, o_orderpriority) VALUES (s.o_orderkey, s.o_custkey,
              s.o_orderstatus, s.o_totalprice, s.o_orderdate, s.o_orderpriority)""")
        }
      case "update" =>
        val (a, b) = keyRange(t, n, hot = true)
        write(t, "update", pass, m => m ++ (a until b).flatMap(k =>
            m.get(k).map(r => k -> r.copy(status = "U", cents = r.cents + 125)))) {
          spark.sql(s"""UPDATE ${t.ident} SET o_totalprice = o_totalprice + 1.25,
            o_orderstatus = 'U' WHERE o_orderkey >= $a AND o_orderkey < $b""")
        }
      case "delete" =>
        val (a, b) = keyRange(t, math.max(1, n / 4), hot = false)
        write(t, "delete", pass, _ -- (a until b)) {
          spark.sql(s"DELETE FROM ${t.ident} WHERE o_orderkey >= $a AND o_orderkey < $b")
        }
      case "txn" =>
        val recs = newRecs(t, math.max(1, n / 2))
        val (da, db) = keyRange(t, math.max(1, n / 4), hot = true)
        val (ua, ub) = keyRange(t, math.max(1, n / 4), hot = false)
        val batch = spark.createDataFrame(rows(recs), schema)
        write(t, "txn", pass, { m =>
          val afterDelete = (m ++ recs) -- (da until db)
          afterDelete ++ (ua until ub).flatMap(k => afterDelete.get(k).map(r => k -> r.copy(status = "T")))
        }) {
          ManifestTable.newTransaction(spark, t.path)
            .append(batch)
            .deleteWhere(col("o_orderkey") >= da && col("o_orderkey") < db)
            .updateWhere(col("o_orderkey") >= ua && col("o_orderkey") < ub,
              Map("o_orderstatus" -> lit("T")))
            .commit()
        }
    }
  }

  /** Runs a read, timing only the call into the program and the
    * collection of its result; `want` is computed from the model before
    * the op and compared with the result after it. */
  private def read[A](kind: String, pass: Int, want: A, what: String)(body: => A): Unit = {
    var got: Option[A] = None
    val r = run.op(kind, kind, pass) { got = Some(body); None }
    if (r.ok && !got.contains(want)) run.fail(r, s"$what: ${got.get} vs $want".take(300))
  }

  private def readOp(t: Table, pass: Int, kind: String): Unit = {
    if (run.trace) liveBytesAtRead += run.ops.size ->
      ManifestTable.dataFileSizes(t.path, ManifestTable.dataFiles(t.path))
    if (kind.startsWith("point_")) {
      val k = key(t, kind == "point_hot")
      read("point_read", pass, t.model.get(k).map(k -> _).toSeq, s"point read of $k") {
        spark.sql(s"SELECT * FROM ${t.ident} WHERE o_orderkey = $k").collect()
          .map(toRec).map { case (key, r) => maybeCorrupt(key) -> r }.toSeq
      }
    } else if (kind == "range_read") {
      // a 30-day window inside the table's date span
      val d0 = t.minDay + rnd.nextInt(t.maxDay - 30 - t.minDay)
      val lo = java.time.LocalDate.ofEpochDay(d0)
      val hi = lo.plusDays(30)
      val in = t.model.values.filter(v => v.day >= d0 && v.day < d0 + 30)
      read("range_read", pass, (in.size.toLong, in.map(_.cents).sum), s"range read [$lo, $hi)") {
        val r = spark.sql(s"""SELECT count(*), $sumCents FROM ${t.ident}
          WHERE o_orderdate >= DATE '$lo' AND o_orderdate < DATE '$hi'""").head()
        (maybeCorrupt(r.getLong(0)), r.getLong(1))
      }
    } else if (kind == "agg_read") {
      val want = t.model.values.groupBy(_.status).map { case (s, rs) =>
        s -> (rs.size.toLong, rs.map(_.cents).sum) }
      read("agg_read", pass, want, "grouped aggregate") {
        spark.sql(s"""SELECT o_orderstatus, count(*), $sumCents FROM ${t.ident}
          GROUP BY o_orderstatus""").collect()
          .map(r => r.getString(0) -> (maybeCorrupt(r.getLong(1)), r.getLong(2))).toMap
      }
    } else if (kind == "asof_read") {
      val v = t.passStarts.last
      val m = t.snapshots(v)
      read("asof_read", pass, (m.size.toLong, m.values.map(_.cents).sum, m.keys.sum), s"version $v") {
        val r = spark.sql(s"""SELECT count(*), $sumCents, coalesce(sum(o_orderkey), 0)
          FROM ${t.ident} VERSION AS OF $v""").head()
        (maybeCorrupt(r.getLong(0)), r.getLong(1), r.getLong(2))
      }
    } else {
      // the changes of the previous pass (of the load, in the first one),
      // so that every seed reads a change feed of the same size
      val v2 = t.passStarts.last
      val v1 = t.passStarts.dropRight(1).lastOption.getOrElse(t.snapshots.keys.head)
      val (a, b) = (t.snapshots(v1), t.snapshots(v2))
      val want = b.collect { case (k, r) if !a.contains(k) => k -> "added"
          case (k, r) if a(k) != r => k -> "changed" }.toSet ++
        a.keysIterator.filterNot(b.contains).map(_ -> "removed")
      read("cdf_read", pass, want, s"change feed ($v1, $v2]") {
        ManifestTable.changesWithValues(spark, t.path, v1, v2, Seq("o_orderkey"))
          .select(col("o_orderkey"), col("change_type")).collect()
          .map(r => maybeCorrupt(r.getLong(0)) -> r.getString(1)).toSet
      }
    }
  }

  /** One pass: the same writes, each with its own batch size, and the
    * same reads, in an order the seed permutes; then an OPTIMIZE, so that
    * every pass starts from a compacted table. */
  private def pass(t: Table, p: Int, writes: Seq[(String, Int)], reads: Seq[String]): Unit = {
    t.passStarts += t.version
    rnd.shuffle(writes.map(Left(_)) ++ reads.map(Right(_))).foreach {
      case Left((kind, n)) => writeOp(t, p, kind, n)
      case Right(kind) => readOp(t, p, kind)
    }
    write(t, "optimize", p, identity) { spark.sql(s"OPTIMIZE ${t.ident}") }
  }

  /** Every op kind once, with small batches, checked like the timed ops. */
  def warmup(): Unit =
    pass(table, -1, Writes.map { case (k, _) => k -> 30 }, ReadKinds.distinct)

  def timed(passes: Int): Unit = {
    val t = table
    filesBefore = files(t)
    versionBefore = t.version
    liveBytesAtRead.clear()
    (0 until passes).foreach(p => pass(t, p, Writes, ReadKinds))
  }

  private def files(t: Table): Map[String, Long] = {
    val root = Paths.get(t.path)
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.size(p)).toMap
  }

  def finish(): Map[String, Any] = {
    val t = table
    val after = files(t)
    val newFiles = after.filter { case (f, _) => !filesBefore.contains(f) }
    val got = spark.sql(s"SELECT * FROM ${t.ident}").collect().map(toRec)
    val finalOk = got.length == t.model.size && got.toMap == t.model
    if (!finalOk) System.err.println(
      s"[perfbench] final table differs from the model: ${got.length} rows vs ${t.model.size}")
    val live = ManifestTable.dataFiles(t.path)
    val referenced = live ++ ManifestTable.deleteFiles(t.path)
    val compactDir = s"$work/compact"
    spark.sql(s"SELECT * FROM ${t.ident}").coalesce(1).write.mode("overwrite").parquet(compactDir)
    val compactBytes = Files.list(Paths.get(compactDir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size(_)).sum
    Map(
      "final_check_ok" -> finalOk,
      "live_rows" -> t.model.size,
      "changed_rows" -> changedRows,
      "bytes_written" -> newFiles.values.sum,
      "files_written" -> newFiles.keys.count(_.endsWith(".parquet")),
      "files_live" -> live.size,
      "referenced_bytes" -> ManifestTable.dataFileSizes(t.path, referenced),
      "live_bytes" -> ManifestTable.dataFileSizes(t.path, live),
      "compact_bytes" -> compactBytes,
      "versions" -> (t.version - versionBefore),
      "live_bytes_at_read" -> liveBytesAtRead.map { case (i, b) => Seq(i, b) })
  }
}

object Lakehouse {
  final case class Rec(cust: Long, status: String, cents: Long, day: Int, prio: String)
  val Statuses = Array("P", "O", "F")
  val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  /** The writes of one timed pass, with heavy-tailed batch sizes (10 to
    * 10k rows), one per kind of write, so every seed grows the table alike. */
  val Writes = Seq("insert" -> 10000, "merge" -> 500, "update" -> 300, "txn" -> 50, "delete" -> 10)
  /** The reads of one timed pass. Point reads are most of them, as in a
    * serving table: half of recent (hot) keys, half of uniform (cold)
    * ones, whose costs differ by the files that pruning keeps. */
  val ReadKinds = Seq("point_hot", "point_hot", "point_cold", "point_cold",
    "range_read", "agg_read", "asof_read", "cdf_read")
}
