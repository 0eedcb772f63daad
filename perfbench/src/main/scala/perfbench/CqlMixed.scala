package perfbench

import scala.collection.mutable

import graft.cql.Cql
import graft.sources.{CellMaintenance, CellSource}

/** `cql_mixed`: point reads beside writes through the CQL front door,
  * one statement at a time, on two catalog tables created by CQL DDL
  * with size-tiered compaction: `ks.d` in the default `(pk bigint,
  * ck int)` layout and `ks.u` with a `text` partition key. The client
  * keeps a model of every live cell and checks each SELECT and each
  * LWT outcome against it. A pass is a fixed mix of 26 statements (18
  * of them writes, each single-table class half on either table) in a
  * seed-shuffled order, after which the client calls
  * `CellMaintenance.compactDeclared` on both tables.
  */
final class CqlMixed(rec: Recorder, seed: Long, work: String)
    extends Workload {
  private val spark = rec.spark
  import spark.implicits._

  /** The catalog and root of the fixture the passes use: the last one
    * built.
    */
  private var catalog = ""
  private var root = ""
  private val PreloadPartitions = 50000
  private val PreloadRows = 2
  private val Cols = Seq("qty", "price")
  private val WarmupPasses = 8
  /** compactDeclared's file-count trigger. At 4 (its default) the
    * size-tiered loop never ends once a major compaction has split the
    * table into four similar files: merging that tier writes four files
    * again, so the count never drops. 8 keeps the loop finite here.
    */
  private val MaxFiles = 8
  private val rng = new scala.util.Random(seed)
  private val traced = rec.trace.isDefined

  /** A table and the client's model of its live cells. */
  private final class Table(val name: String, val typed: Boolean) {
    def dir = s"$root/ks/$name"
    val keyCol = if (typed) "user" else "pk"
    val rows = mutable.HashMap.empty[Any, mutable.HashMap[(Int, String), Long]]
    val recent = mutable.ArrayBuffer.empty[Any]
    var fresh = PreloadPartitions.toLong
    def key(i: Long): Any = if (typed) s"u-$i" else i
    def lit(k: Any): String = k match {
      case s: String => s"'$s'"
      case other => other.toString
    }
    def where(k: Any, ck: Int) = s"$keyCol = ${lit(k)} AND ck = $ck"
    def part(k: Any) = rows.getOrElseUpdate(k, mutable.HashMap.empty)
    def touch(k: Any): Unit = {
      recent += k
      if (recent.length > 4096) recent.remove(0, 2048)
    }
    def cellBytes(k: Any, col: String): Long =
      (k match { case s: String => s.length; case _ => 8 }) + 4 +
        col.length + 16
  }
  private val d = new Table("d", typed = false)
  private val u = new Table("u", typed = true)
  private val tables = Seq(d, u)

  private def cq(stmt: String) = Cql.catalogExecute(spark, stmt, catalog)

  // Layer figures; the file listings and probes run in the traced run only.
  private val pointReadMs = mutable.ArrayBuffer.empty[Double]
  private val maxWtMs = mutable.ArrayBuffer.empty[Double]
  private val fileCounts = mutable.ArrayBuffer.empty[Double]
  private val compactions = mutable.ArrayBuffer.empty[(Int, Int)]
  private var flushBytes = 0L
  private var rewriteBytes = 0L
  private var userBytes = 0L
  private var prepareMs = 0.0

  /** The preload cells of a table as a DataFrame: a pure function of
    * the seed, so every build writes the same cells and the client's
    * model is read from the same expressions, not from the connector.
    * Cell n (n = 0, 1, ...) is key index n / 4, ck n / 2 mod 2, column
    * `Cols(n mod 2)`, writetime n + 1.
    */
  private def preload(t: Table) = {
    val n = PreloadRows * Cols.length
    spark.range(PreloadPartitions.toLong * n).selectExpr(
      if (t.typed) s"concat('u-', id div $n) AS user" else s"id div $n AS pk",
      s"CAST((id div ${Cols.length}) % $PreloadRows AS INT) AS ck",
      s"IF(id % 2 = 0, '${Cols(0)}', '${Cols(1)}') AS col", // two columns
      s"pmod(xxhash64(${seed}L, '${t.name}', id), 1000000) AS value",
      "id + 1 AS wt")
  }

  override def build(i: Int): Unit = {
    catalog = s"perfbench$i"
    root = s"$work/cql$i"
    spark.conf.set(s"spark.sql.catalog.$catalog", "graft.sources.CellCatalog")
    spark.conf.set(s"spark.sql.catalog.$catalog.root", root)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    val stcs = "WITH compaction = {'class': 'SizeTieredCompactionStrategy'}"
    cq("CREATE KEYSPACE ks")
    cq("CREATE TABLE ks.d (pk bigint, ck int, col text, value bigint, " +
      s"wt bigint) $stcs")
    cq("CREATE TABLE ks.u (user text, ck int, col text, value bigint, " +
      s"wt bigint, PRIMARY KEY ((user), ck)) $stcs")
    // Preload through the DSv2 writer: one flush per table.
    tables.foreach { t =>
      val op = rec.timed(s"preload_${t.name}", "write")(
        preload(t).coalesce(1).write.format("graft.sources.CellSource")
          .mode("append").save(t.dir))(_ => ())
      if (!op.ok) throw new IllegalStateException(op.err)
    }
  }

  override def prepare(): Unit = {
    tables.foreach { t =>
      preload(t).selectExpr(s"CAST(${t.keyCol} AS STRING)", "ck", "col", "value")
        .as[(String, Int, String, Long)].collect().foreach {
          case (k, ck, c, v) =>
            t.part(if (t.typed) k else k.toLong)((ck, c)) = v
        }
    }
    if (traced) prepareMs = timePrepare()
    // Warm-up: full cycles, statements and compaction, untimed.
    for (_ <- 1 to WarmupPasses) pass()
    Seq(pointReadMs, maxWtMs, fileCounts).foreach(_.clear())
    compactions.clear()
    flushBytes = 0L; rewriteBytes = 0L; userBytes = 0L
  }

  /** Median time of `Cql.prepare` over the statement shapes the mix
    * sends, with bind markers in place of the values.
    */
  private def timePrepare(): Double = {
    val shapes = Seq(
      "SELECT ck, col, value FROM ks.d WHERE pk = ?",
      "INSERT INTO ks.d (pk, ck, qty) VALUES (?, ?, ?)",
      "UPDATE ks.d SET qty = ? WHERE pk = ? AND ck = ?",
      "DELETE FROM ks.d WHERE pk = ? AND ck = ?",
      "INSERT INTO ks.d (pk, ck, qty) VALUES (?, ?, ?) IF NOT EXISTS",
      "UPDATE ks.d SET qty = ? WHERE pk = ? AND ck = ? IF qty = ?")
    val ms = for (_ <- 1 to 10; s <- shapes) yield
      rec.trace.get.probe("prepare")(Cql.prepare(s))._2
    Stats.median(ms)
  }

  private def pickKey(t: Table): Any =
    if (t.recent.nonEmpty && rng.nextDouble() < 0.75) {
      // Zipf-like skew toward the most recently written partitions.
      val n = t.recent.length
      val rank = math.min(n, math.max(1, math.pow(n + 1, rng.nextDouble()).toInt))
      t.recent(n - rank)
    } else t.key(rng.nextLong(t.fresh))

  private def freshKey(t: Table): Any = { t.fresh += 1; t.key(t.fresh - 1) }

  private def value(): Long = rng.nextInt(1000000).toLong

  /** Runs one write statement and applies its effect to the model
    * only if it succeeded.
    */
  private def write(cls: String, touched: Seq[Table], stmt: String)(
      apply: => Unit): Unit = {
    val before = if (traced) touched.map(t => CellFiles.names(t.dir)) else Nil
    val op = rec.timed(s"$cls.${touched.map(_.name).mkString}", cls)(cq(stmt))(_ => ())
    if (op.ok) apply
    afterWrite(touched, before)
  }

  private def afterWrite(touched: Seq[Table],
      before: Seq[Map[String, Long]]): Unit = {
    if (traced) {
      touched.zip(before).foreach { case (t, b) =>
        flushBytes += CellFiles.names(t.dir).filter(f => !b.contains(f._1))
          .values.sum
        maxWtMs += rec.trace.get.probe("maxwt")(CellSource.maxWt(t.dir))._2
        fileCounts += CellFiles.count(t.dir)
      }
    }
  }

  private def put(t: Table, k: Any, ck: Int, col: String, v: Long): Unit = {
    t.part(k)((ck, col)) = v
    t.touch(k)
    userBytes += t.cellBytes(k, col)
  }

  private def select(t: Table): Unit = {
    val k = pickKey(t)
    val want = t.rows.get(k).map(_.iterator.map { case ((ck, c), v) =>
      (ck, c, v) }.toSet).getOrElse(Set.empty)
    rec.timed(s"select.${t.name}", "select")(
      cq(s"SELECT ck, col, value FROM ks.${t.name} WHERE ${t.keyCol} = " +
        t.lit(k)).collect()) { rows =>
      val got = rows.map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
      if (got != want)
        throw new WrongResult(s"SELECT ${t.name} $k: $got != $want")
    }
    if (traced) {
      pointReadMs += rec.trace.get.probe("point_read") {
        if (t.typed) CellSource.localReconciledRowsWhere(t.dir, Seq("user" -> k))
        else CellSource.localReconciledRows(t.dir,
          Some(Set(k.asInstanceOf[Long])))
      }._2
      fileCounts += CellFiles.count(t.dir)
    }
  }

  private def insert(t: Table): Unit = {
    val k = if (rng.nextDouble() < 0.3) freshKey(t) else pickKey(t)
    val ck = rng.nextInt(PreloadRows + 2)
    val cols = if (rng.nextBoolean()) Cols else Seq(Cols(rng.nextInt(2)))
    val vs = cols.map(_ => value())
    write("insert", Seq(t),
      s"INSERT INTO ks.${t.name} (${t.keyCol}, ck, ${cols.mkString(", ")}) " +
        s"VALUES (${t.lit(k)}, $ck, ${vs.mkString(", ")})") {
      cols.zip(vs).foreach { case (c, v) => put(t, k, ck, c, v) }
    }
  }

  private def update(t: Table): Unit = {
    val k = pickKey(t)
    val ck = rng.nextInt(PreloadRows + 2)
    val c = Cols(rng.nextInt(2))
    val v = value()
    write("update", Seq(t),
      s"UPDATE ks.${t.name} SET $c = $v WHERE ${t.where(k, ck)}") {
      put(t, k, ck, c, v)
    }
  }

  private def delete(t: Table): Unit = {
    val k = pickKey(t)
    val ck = rng.nextInt(PreloadRows + 2)
    val r = rng.nextDouble()
    if (!t.typed && r < 0.3) {
      val c = Cols(rng.nextInt(2))
      write("delete", Seq(t),
        s"DELETE $c FROM ks.${t.name} WHERE ${t.where(k, ck)}") {
        t.part(k).remove((ck, c)); t.touch(k)
        userBytes += t.cellBytes(k, s"!del:$c")
      }
    } else if (!t.typed && r < 0.4) {
      write("delete", Seq(t), s"DELETE FROM ks.${t.name} WHERE pk = $k") {
        t.rows.remove(k); t.touch(k)
        userBytes += t.cellBytes(k, "!del*")
      }
    } else {
      write("delete", Seq(t), s"DELETE FROM ks.${t.name} WHERE ${t.where(k, ck)}") {
        val p = t.part(k)
        p.keys.filter(_._1 == ck).toList.foreach(p.remove)
        t.touch(k)
        userBytes += t.cellBytes(k, "!delrow")
      }
    }
  }

  /** Lightweight transaction on a row whose outcome the model knows:
    * either a row with no cells (IF NOT EXISTS applies) or one with a
    * `qty` cell (IF NOT EXISTS refuses and reports it; IF qty = <it>
    * applies).
    */
  private def lwt(t: Table): Unit = {
    var k = pickKey(t)
    val ck = rng.nextInt(PreloadRows + 2)
    def cellsAt(k: Any) = t.rows.get(k).map(_.keys.count(_._1 == ck)).getOrElse(0)
    if (cellsAt(k) > 0 && !t.rows(k).contains((ck, "qty"))) k = freshKey(t)
    val cur = t.rows.get(k).flatMap(_.get((ck, "qty")))
    val v = value()
    val conditional = cur.isDefined && rng.nextBoolean()
    val stmt =
      if (conditional)
        s"UPDATE ks.${t.name} SET qty = $v WHERE ${t.where(k, ck)} " +
          s"IF qty = ${cur.get}"
      else
        s"INSERT INTO ks.${t.name} (${t.keyCol}, ck, qty) VALUES " +
          s"(${t.lit(k)}, $ck, $v) IF NOT EXISTS"
    val want = if (conditional) (true, cur) else (cur.isEmpty, cur)
    val before = if (traced) Seq(CellFiles.names(t.dir)) else Nil
    val op = rec.timed(s"lwt.${t.name}", "lwt")(cq(stmt).collect()) { rows =>
      val r = rows.head
      val got = (r.getBoolean(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))
      if (got != want) throw new WrongResult(s"$stmt: $got != $want")
    }
    if (op.ok && want._1) put(t, k, ck, "qty", v)
    afterWrite(Seq(t), before)
  }

  /** A logged batch spanning both layouts, on distinct rows. */
  private def batch(): Unit = {
    val k1 = pickKey(d); val ck1 = rng.nextInt(PreloadRows + 2)
    val k2 = pickKey(u); val ck2 = rng.nextInt(PreloadRows + 2)
    val v1 = value(); val v2 = value()
    write("batch", Seq(d, u),
      s"""BEGIN BATCH
         |  INSERT INTO ks.d (pk, ck, qty) VALUES ($k1, $ck1, $v1);
         |  UPDATE ks.u SET price = $v2 WHERE ${u.where(k2, ck2)};
         |APPLY BATCH""".stripMargin) {
      put(d, k1, ck1, "qty", v1)
      put(u, k2, ck2, "price", v2)
    }
  }

  private def compact(t: Table): Unit = {
    val before = CellFiles.names(t.dir)
    rec.timed(s"compact_${t.name}", "compact")(
      CellMaintenance.compactDeclared(spark, t.dir, MaxFiles)) { r =>
      r.foreach(compactions += _)
    }
    rewriteBytes += CellFiles.names(t.dir).filter(f => !before.contains(f._1))
      .values.sum
  }

  /** One cycle: a fixed multiset of statements, each single-table
    * class split evenly over the two tables, in a seed-shuffled order;
    * then a compaction of each table.
    */
  private val Mix: Seq[() => Unit] =
    tables.flatMap(t => Seq.fill(4)(() => select(t)) ++
      Seq.fill(3)(() => insert(t)) ++ Seq.fill(2)(() => update(t)) ++
      Seq.fill(2)(() => delete(t)) ++ Seq(() => lwt(t))) ++
      Seq.fill(2)(() => batch())

  override def pass(): Unit = {
    rng.shuffle(Mix).foreach(_())
    tables.foreach(compact)
  }

  private def measured(cls: String => Boolean) =
    rec.ops.filter(o => o.pass > 0 && o.ok && cls(o.cls)).map(_.ms).toSeq

  private def liveBytes: Long = tables.map(t => t.rows.iterator.map {
    case (k, p) => p.keys.iterator.map(c => t.cellBytes(k, c._2)).sum
  }.sum).sum

  private def spaceAmp: Double =
    tables.map(t => CellFiles.bytes(t.dir)).sum.toDouble / liveBytes

  override def extra(): Map[String, (Double, String)] = {
    val writes = measured(c => c != "select" && !Op.NotRequests(c))
    val reads = measured(_ == "select")
    val stmts = rec.ops.count(o => o.pass > 0 && o.request)
    val wall = rec.ops.filter(_.pass > 0).map(_.ms).sum / 1000.0
    Map(
      "cql_ops_per_s" -> (stmts / wall, "ops/s"),
      "cql_read_p50_ms" -> (Stats.percentile(reads, 0.5), "ms"),
      "cql_read_p90_ms" -> (Stats.percentile(reads, 0.9), "ms"),
      "cql_write_p50_ms" -> (Stats.percentile(writes, 0.5), "ms"),
      "cql_write_p90_ms" -> (Stats.percentile(writes, 0.9), "ms"),
      "cql_space_amp" -> (spaceAmp, "ratio"),
      "input_cells" -> (tables.map(_.rows.valuesIterator.map(_.size).sum)
        .sum.toDouble, "cells"),
      "input_partitions" -> (tables.map(_.rows.size).sum.toDouble, "count"),
      "input_files" -> (tables.map(t => CellFiles.count(t.dir)).sum.toDouble,
        "count"),
      "input_bytes" -> (tables.map(t => CellFiles.bytes(t.dir)).sum.toDouble,
        "bytes"))
  }

  override def layers(): Map[String, Double] = {
    val classes = Seq("select", "insert", "update", "delete", "lwt", "batch")
    val compactMs = measured(_ == "compact")
    val pointP50 = Stats.percentile(pointReadMs.toSeq, 0.5)
    val selectP50 = Stats.percentile(measured(_ == "select"), 0.5)
    classes.map(c => s"cql.stmt_ms.$c" ->
      Stats.percentile(measured(_ == c), 0.5)).toMap ++ Map(
      "cql.prepare_ms" -> prepareMs,
      "cql.select_overhead_ms" -> (selectP50 - pointP50),
      "sources.files" -> Stats.mean(fileCounts.toSeq),
      "sources.point_read_p50_ms" -> pointP50,
      "sources.point_read_p90_ms" -> Stats.percentile(pointReadMs.toSeq, 0.9),
      "sources.maxwt_ms" -> Stats.percentile(maxWtMs.toSeq, 0.5),
      "maintenance.compact_p50_ms" -> Stats.percentile(compactMs, 0.5),
      "maintenance.compact_max_ms" ->
        (if (compactMs.isEmpty) 0.0 else compactMs.max),
      "maintenance.compactions" -> compactions.length.toDouble,
      "maintenance.files_before" -> Stats.mean(compactions.map(_._1.toDouble).toSeq),
      "maintenance.files_after" -> Stats.mean(compactions.map(_._2.toDouble).toSeq),
      "maintenance.bytes_rewritten" -> rewriteBytes.toDouble,
      "maintenance.write_amp" ->
        (if (userBytes > 0) (flushBytes + rewriteBytes).toDouble / userBytes
         else 0.0),
      "maintenance.space_amp" -> spaceAmp)
  }
}
