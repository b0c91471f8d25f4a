package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.tables.{TableSql, VersionedTable}

/** Writes beside reads on one VersionedTable keyed by `o_orderkey`: a
  * seeded op sequence of two writes per read. The bench keeps an in-memory
  * model of the table and an order-independent hash of every version, and
  * checks every read, time-travel read and change feed against it. */
final class TableCommits(name: String = "orders_table")
    extends Workload {
  import Inputs.Order
  import TableCommits._

  private var dir = ""
  private var spark: org.apache.spark.sql.SparkSession = _
  private var rng: Rng = _
  private val model = mutable.HashMap.empty[Long, Order]
  private val liveKeys = mutable.ArrayBuffer.empty[Long]
  private val keyPos = mutable.HashMap.empty[Long, Int]
  private var nextKey = 0L
  private var hash = VersionHash(0L, 0L)
  private val versionHash = mutable.HashMap.empty[Long, VersionHash]
  private val versionDelta = mutable.HashMap.empty[Long, Seq[Change]]
  private var latest = 0L
  private var writesDone = 0

  private val opTimes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val writeMs, readMs = mutable.ArrayBuffer.empty[Double]
  private var rows = 0L
  private var userBytes, writtenBytes, compactBytes = 0L
  private var filesLive, logEntries = 0L

  override def setup(ctx: Ctx): Unit = {
    spark = ctx.spark
    val t0 = System.nanoTime()
    val gen = new Rng(ctx.seed)
    val init = (0L until InitialRows).map(k => Inputs.order(gen, k))
    init.foreach(put)
    nextKey = InitialRows
    dir = s"${ctx.work}/$name"
    val df = Inputs.ordersDf(spark, init, InitialFiles)
    ctx.inputs("setup.inputs_s") = (System.nanoTime() - t0) / 1e9
    latest = VersionedTable.commit(spark, df, dir)
    versionHash(latest) = hash
    rng = new Rng(ctx.seed * 31 + 17)
    ctx.inputs ++= Seq("rows" -> InitialRows, "initial_files" -> InitialFiles,
      "table_bytes" -> Fs.bytes(dir), "op_cycle" -> Cycle)
  }

  /** One whole cycle on a table of its own, of the measured size, so every
    * op kind has run once on data of that size before the window; the
    * measured table is untouched. */
  override def warmup(ctx: Ctx): Unit = {
    val inputs = ctx.inputs.clone()
    val warm = new TableCommits("warm_table")
    warm.setup(ctx)
    warm.run(ctx, 1)
    ctx.inputs.clear(); ctx.inputs ++= inputs
  }

  /** One cycle of twelve ops, warm. */
  override def nominalS: Double = 7.0

  override def run(ctx: Ctx, units: Int): Unit = {
    var i = 1L
    while (i <= units * Cycle.size) {
      Cycle(((i - 1) % Cycle.size).toInt) match {
        case "read" => readLatest(ctx, i)
        case "readVersion" => readVersion(ctx, i)
        case "changes" => readChanges(ctx, i)
        case kind => write(ctx, i, kind)
      }
      if (i == SnapshotAfterOps) snapshotLayout()
      i += 1
    }
    ctx.inputs("ops") = i - 1
  }

  // ------------------------------------------------------------ the model

  private def put(o: Order): Unit = {
    model.get(o.key).foreach(old => hash = hash.minus(rowHash(old)))
    if (!model.contains(o.key)) { keyPos(o.key) = liveKeys.size; liveKeys += o.key }
    model(o.key) = o
    hash = hash.plus(rowHash(o))
  }

  private def remove(k: Long): Unit = model.remove(k).foreach { old =>
    hash = hash.minus(rowHash(old))
    val p = keyPos.remove(k).get
    val last = liveKeys.remove(liveKeys.size - 1)
    if (last != k) { liveKeys(p) = last; keyPos(last) = p }
  }

  private def sampleKeys(n: Int): Seq[Long] = {
    val s = mutable.LinkedHashSet.empty[Long]
    while (s.size < math.min(n, liveKeys.size)) s += liveKeys(rng.nextInt(liveKeys.size))
    s.toSeq
  }

  private def changeOf(old: Option[Order], nu: Option[Order]): Option[Change] = (old, nu) match {
    case (Some(a), Some(b)) if a == b => None
    case (Some(a), Some(b)) => Some(Change(a.key, "updated", Some(a), Some(b)))
    case (None, Some(b)) => Some(Change(b.key, "added", None, Some(b)))
    case (Some(a), None) => Some(Change(a.key, "removed", Some(a), None))
    case _ => None
  }

  // -------------------------------------------------------------- writes

  private def write(ctx: Ctx, opId: Long, kind: String): Unit = {
    writesDone += 1
    val before = if (ctx.trace.enabled) tableBytes() else 0L
    // plan the op and its effect on the model before timing it
    val (effect, submitted, body): (Seq[(Option[Order], Option[Order])], Long, () => Long) = kind match {
      case "commitAppend" =>
        val rowsIn = (0 until 50).map { _ => val o = Inputs.order(rng, nextKey); nextKey += 1; o }
        (rowsIn.map(o => (None, Some(o))), rowsIn.size * RowBytes,
          () => VersionedTable.commitAppend(spark, Inputs.ordersDf(spark, rowsIn, 1), dir))
      case "commitMerge" =>
        val upd = sampleKeys(60).map { k =>
          val o = model(k); o.copy(price = o.price + 10.0 + rng.nextInt(1000), status = Inputs.Statuses(rng.nextInt(3)))
        }
        val ins = (0 until 40).map { _ => val o = Inputs.order(rng, nextKey); nextKey += 1; o }
        val src = upd ++ ins
        (src.map(o => (model.get(o.key), Some(o))), src.size * RowBytes,
          () => VersionedTable.commitMerge(spark, dir, Inputs.ordersDf(spark, src, 1), Seq("o_orderkey")))
      case "commitDeleteDV" =>
        val keys = sampleKeys(50)
        (keys.map(k => (model.get(k), None)), keys.size * 8L,
          () => VersionedTable.commitDeleteDV(spark, dir, col("o_orderkey").isin(keys: _*)))
      case "commitUpdate" =>
        val r = rng.nextInt(1000)
        val hit = liveKeys.filter(_ % 1000 == r).toSeq
        (hit.map { k => val o = model(k); (Some(o), Some(o.copy(price = o.price + 1.0, status = "F"))) },
          hit.size * RowBytes,
          () => VersionedTable.commitUpdate(spark, dir, col("o_orderkey") % 1000 === r,
            Map("o_totalprice" -> (col("o_totalprice") + 1.0), "o_orderstatus" -> lit("F"))))
      case "sql" =>
        val r = rng.nextInt(997)
        if (writesDone % 2 == 0) {
          val hit = liveKeys.filter(_ % 997 == r).toSeq
          (hit.map(k => (model.get(k), None)), hit.size * 8L,
            () => sql(s"DELETE FROM orders WHERE o_orderkey % 997 = $r"))
        } else {
          val hit = liveKeys.filter(_ % 997 == r).toSeq
          (hit.map { k => val o = model(k); (Some(o), Some(o.copy(priority = "1-URGENT"))) }, hit.size * RowBytes,
            () => sql(s"UPDATE orders SET o_orderpriority = '1-URGENT' WHERE o_orderkey % 997 = $r"))
        }
      case _ =>
        (Nil, 0L, () => VersionedTable.commitCompact(spark, dir, targetFiles = CompactFiles))
    }
    ctx.op(kind, "tables", opId)(body()) match {
      case Some((v, ms)) =>
        writeMs += ms
        opTimes.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
        rows += effect.size
        val changes = effect.flatMap { case (o, n) => changeOf(o, n) }
        effect.foreach {
          case (_, Some(n)) => put(n)
          case (Some(o), None) => remove(o.key)
          case _ =>
        }
        ctx.check(kind, v > latest || (kind == "commitCompact" && v == latest),
          s"returned version $v after $latest")
        if (v != latest) { // a compaction with nothing to do publishes no version
          versionHash(v) = hash
          versionDelta(v) = changes
          latest = v
        }
        if (ctx.trace.enabled) {
          val grown = tableBytes() - before
          userBytes += submitted
          writtenBytes += grown
          if (kind == "commitCompact") compactBytes += grown
        }
      case None =>
        // the table and the model may now disagree: resynchronise the
        // model's view of versions from the log and carry on
        latest = VersionedTable.latestVersion(dir).getOrElse(latest)
        versionHash(latest) = VersionHash(-1L, -1L)
    }
  }

  /** TableSql runs the statement before it returns; its one-row result
    * echoes the new version, which the log has too. */
  private def sql(text: String): Long = {
    TableSql.execute(spark, Map("orders" -> dir), text)
    VersionedTable.latestVersion(dir).get
  }

  // --------------------------------------------------------------- reads

  private def readLatest(ctx: Ctx, opId: Long): Unit =
    timedRead(ctx, "read", opId, latest)(VersionedTable.read(ctx.spark, dir).collect())

  private def readVersion(ctx: Ctx, opId: Long): Unit = {
    // three committed versions back: the same depth every run, so the
    // read's cost does not depend on the seed
    val older = versionHash.keys.filter(v => v < latest && versionHash(v).count >= 0).toSeq.sorted.takeRight(3)
    if (older.isEmpty) readLatest(ctx, opId)
    else {
      val v = older.head
      timedRead(ctx, "readVersion", opId, v)(VersionedTable.read(ctx.spark, dir, Some(v)).collect())
    }
  }

  private def timedRead(ctx: Ctx, kind: String, opId: Long, v: Long)(body: => Array[Row]): Unit =
    ctx.op(kind, "tables", opId)(body).foreach { case (got, ms) =>
      readMs += ms
      opTimes.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
      rows += got.length
      val h = got.foldLeft(VersionHash(0L, 0L))((acc, r) => acc.plus(rowHash(orderOf(r))))
      ctx.check(kind, h == versionHash(v), s"version $v read $h, model has ${versionHash(v)}")
    }

  private def readChanges(ctx: Ctx, opId: Long): Unit = {
    val known = versionDelta.keys.toSeq.sorted
    if (known.size < 3) return readLatest(ctx, opId)
    val to = known.last
    val from = known(known.size - 3) // span of the last two committed steps
    ctx.op("changes", "tables", opId) {
      VersionedTable.changes(ctx.spark, dir, from, to, Seq("o_orderkey"),
        Seq("o_totalprice", "o_orderstatus")).collect()
    }.foreach { case (got, ms) =>
      readMs += ms
      opTimes.getOrElseUpdate("changes", mutable.ArrayBuffer.empty) += ms
      rows += got.length
      val want = known.filter(v => v > from && v <= to).flatMap(v => versionDelta(v).map(c => c.feedRow(v)))
      val have = got.map(r => (r.getAs[Long]("o_orderkey"), r.getAs[Long]("version"), r.getAs[String]("change_type"),
        Option(r.getAs[Any]("o_totalprice_old")).map(_.asInstanceOf[Double]),
        Option(r.getAs[Any]("o_totalprice_new")).map(_.asInstanceOf[Double]),
        Option(r.getAs[String]("o_orderstatus_old")), Option(r.getAs[String]("o_orderstatus_new")))).toSeq
      ctx.check("changes", have.sorted == want.sorted,
        s"feed ($from, $to] has ${have.size} rows, model expects ${want.size}")
    }
  }

  // ---------------------------------------------------------------- stats

  private def tableBytes(): Long = Fs.bytes(dir)

  private def snapshotLayout(): Unit = {
    filesLive = VersionedTable.entriesOf(dir, latest).size.toLong
    logEntries = VersionedTable.log(dir).size.toLong
  }

  override def opMs: Seq[Double] = (writeMs ++ readMs).toSeq
  override def rowsMoved: Long = rows
  override def busySeconds: Double = (writeMs.sum + readMs.sum) / 1e3

  override def detail(ctx: Ctx): Seq[Metric] = {
    // storage: bytes under the table dir against the final snapshot written
    // once as plain parquet (untimed)
    val plain = s"${ctx.work}/plain_snapshot"
    VersionedTable.read(ctx.spark, dir).write.parquet(plain)
    val amp = tableBytes().toDouble / Fs.bytes(plain).max(1)
    Stats.latency("write_ms", writeMs.toSeq) ++ Stats.latency("read_ms", readMs.toSeq) :+
      Metric("storage_amp", amp, "ratio")
  }

  override def layers(ctx: Ctx): Map[String, Double] = {
    val byGroup = ctx.trace.engineByGroup()
    val spans = ctx.trace.allSpans.filter(_.layer == "tables")
    Layers.TableOps.flatMap { op =>
      val ss = spans.filter(_.name == op)
      val st = ss.flatMap(s => byGroup.get(s.group))
      val n = ss.size.max(1)
      Seq(s"tables.$op.ms" -> Stats.median(opTimes.getOrElse(op, Nil).toSeq),
        s"tables.$op.actions" -> st.map(_.actions).sum.toDouble / n,
        s"tables.$op.plan_ms" -> st.map(x => x.analysisMs + x.optimizationMs + x.planningMs).sum / n)
    }.toMap ++ Map(
      "tables.write_amp" -> (if (userBytes > 0) writtenBytes.toDouble / userBytes else 0.0),
      "tables.files_live" -> filesLive.toDouble,
      "tables.log_entries" -> logEntries.toDouble,
      "tables.compact.bytes_rewritten" -> compactBytes.toDouble)
  }
}

object TableCommits {
  val InitialRows  = 150000L
  val InitialFiles = 8
  /** The op sequence, repeated: eight writes and four reads. The kinds
    * are fixed so every seed runs the same mix; the seed picks keys and
    * values. */
  val Cycle: IndexedSeq[String] = IndexedSeq("commitAppend", "commitMerge", "read", "commitDeleteDV",
    "commitUpdate", "readVersion", "sql", "commitAppend", "changes", "commitMerge", "commitCompact", "read")
  val CompactFiles = 4
  /** files_live and log_entries are taken after the first cycle. */
  val SnapshotAfterOps = 12L
  /** Logical bytes of one order row as submitted (six fields). */
  val RowBytes = 48L

  final case class VersionHash(count: Long, sum: Long) {
    def plus(h: Long): VersionHash = VersionHash(count + 1, sum + h)
    def minus(h: Long): VersionHash = VersionHash(count - 1, sum - h)
  }

  final case class Change(key: Long, kind: String, old: Option[Inputs.Order], nu: Option[Inputs.Order]) {
    def feedRow(v: Long): (Long, Long, String, Option[Double], Option[Double], Option[String], Option[String]) =
      (key, v, kind, old.map(_.price), nu.map(_.price), old.map(_.status), nu.map(_.status))
  }

  private def mix(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d4a2ca9ab4c19bL
    z ^ (z >>> 31)
  }

  def rowHash(o: Inputs.Order): Long =
    mix(mix(mix(mix(mix(mix(o.key) + o.cust) + o.status.hashCode) +
      java.lang.Double.doubleToLongBits(o.price)) + o.dateMs) + o.priority.hashCode)

  def orderOf(r: Row): Inputs.Order =
    Inputs.Order(r.getAs[Long]("o_orderkey"), r.getAs[Long]("o_custkey"), r.getAs[String]("o_orderstatus"),
      r.getAs[Double]("o_totalprice"), r.getAs[java.sql.Timestamp]("o_orderdate").getTime,
      r.getAs[String]("o_orderpriority"))
}
