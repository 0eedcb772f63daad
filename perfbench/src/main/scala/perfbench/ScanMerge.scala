package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, lit, sum}

/** `scan_merge`: a seed-generated default-layout cell table written
  * through the connector's DSv2 writer as four overlapping flush
  * generations, with cell tombstones and TTL'd cells, queried by a
  * fixed mix of reconciling and raw scans.
  *
  * Every cell version is a pure function of (seed, key, generation),
  * so the expected answers come from the same formulas evaluated per
  * key (no connector involved): the LWW winner is the version with the
  * highest writetime, a `!del:<col>` marker deletes it when the
  * marker's writetime is at least the winner's, and a winner whose
  * expiry (wt + ttl) is before the query time is dead.
  */
final class ScanMerge(rec: Recorder, seed: Long, work: String, cpus: Int)
    extends Workload {
  private val spark = rec.spark
  import spark.implicits._

  private val Partitions = 24000L
  private val Clusterings = 4
  private val Columns = 4
  private val Generations = 4
  private val PresentPct = 55
  private val TombPct = 6
  private val TtlPct = 10
  /** Writetimes fall in [1, 2^30) and TTLs in [0, 2^29), so at this
    * query time part of the TTL'd winners has expired.
    */
  private val QueryTime = 1L << 29
  private val Splits = 16
  private val WarmupPasses = 6
  /** The table the passes read: the last fixture built. */
  private var dir = ""
  private val rng = new scala.util.Random(seed)

  // Two hashes per (key, generation); each field takes its own bits.
  private def ha(g: Int) = s"xxhash64(${seed}L, id, $g)"
  private def hb(g: Int) = s"xxhash64(${seed}L, id, $g, 1)"
  private def bits(h: String, from: Int, n: Int) =
    s"(shiftrightunsigned($h, $from) & ${(1L << n) - 1}L)"
  private def present(g: Int) = s"pmod(${ha(g)}, 100) < $PresentPct"
  private def wt(g: Int) = s"(${bits(ha(g), 8, 28)} * 4 + ${g + 1})"
  private def value(g: Int) = s"pmod(${bits(ha(g), 36, 28)}, 1000000)"
  private def ttl(g: Int) =
    s"IF(${bits(hb(g), 0, 8)} * 100 < $TtlPct * 256, ${bits(hb(g), 8, 29)}, NULL)"
  private def tomb(g: Int) = s"${bits(hb(g), 37, 7)} * 100 < $TombPct * 128"
  private def tombWt(g: Int) = s"(${bits(hb(g), 44, 20)} * 1024 + ${g + 1})"

  private def keys: DataFrame =
    spark.range(Partitions * Clusterings * Columns).selectExpr("id",
      s"xxhash64(${seed}L, id div ${Clusterings * Columns}, 'pk') AS pk",
      s"CAST((id div $Columns) % $Clusterings AS INT) AS ck",
      s"id % $Columns AS c")

  private def generation(g: Int): DataFrame = {
    val data = keys.where(present(g)).selectExpr("pk", "ck",
      "concat('c', c) AS col", s"${value(g)} AS value",
      s"${wt(g)} AS wt", s"${ttl(g)} AS ttl")
    val markers = keys.where(tomb(g)).selectExpr("pk", "ck",
      "concat('!del:c', c) AS col", "0L AS value", s"${tombWt(g)} AS wt",
      "CAST(NULL AS BIGINT) AS ttl")
    data.unionByName(markers)
  }

  // Expected answers, from the generator's formulas.
  private var liveByCol = Map.empty[String, (Long, Long)]
  private var rawByCol = Map.empty[String, (Long, Long)]
  private var pks = Array.empty[Long]
  private var liveCnt = Array.empty[Long]  // prefix sums over sorted pks
  private var liveSum = Array.empty[Long]
  private var rawCnt = Array.empty[Long]
  private var totalCells = 0L
  private var writeS = 0.0
  private var writeCellsPerS = 0.0

  private def reference(): Unit = {
    val gs = 0 until Generations
    // Every version's fields once per key, then the merge rules over them.
    val perGen = keys.selectExpr(Seq("pk", "c") ++ gs.flatMap(g => Seq(
      s"${present(g)} AS p$g", s"${wt(g)} AS w$g", s"${value(g)} AS v$g",
      s"${wt(g)} + ${ttl(g)} AS e$g", s"${tomb(g)} AS t$g",
      s"${tombWt(g)} AS d$g")): _*)
    def greatest(f: Int => String) = gs.map(f).mkString("greatest(", ", ", ")")
    def atWinner(f: Int => String) = gs.map(g =>
      s"WHEN p$g AND w$g = w THEN ${f(g)}").mkString("CASE ", " ", " END")
    val perKey = perGen.selectExpr(Seq("*",
        greatest(g => s"IF(p$g, w$g, NULL)") + " AS w",
        greatest(g => s"IF(t$g, d$g, NULL)") + " AS d",
        gs.map(g => s"CAST(p$g AS INT)").mkString(" + ") + " AS nd",
        gs.map(g => s"CAST(t$g AS INT)").mkString(" + ") + " AS nm",
        gs.map(g => s"IF(p$g, v$g, 0)").mkString(" + ") + " AS sv"): _*)
      .selectExpr("pk", "c", "nd", "nm", "sv", "w", "d",
        atWinner(g => s"v$g") + " AS v", atWinner(g => s"e$g") + " AS e")
      .selectExpr("pk", "c", "nd", "nm", "sv", "v",
        s"w IS NOT NULL AND (d IS NULL OR w > d) AND (e IS NULL OR e >= $QueryTime)" +
          " AS live")
    perKey.persist()
    try {
      liveByCol = perKey.where("live").groupBy("c")
        .agg(count(lit(1)), sum("v")).as[(Long, Long, Long)].collect()
        .map { case (c, n, s) => s"c$c" -> (n, s) }.toMap
      rawByCol = perKey.groupBy("c")
        .agg(sum("nd"), sum("sv"), sum("nm")).as[(Long, Long, Long, Long)]
        .collect().flatMap { case (c, nd, sv, nm) =>
          Seq(s"c$c" -> (nd, sv), s"!del:c$c" -> (nm, 0L)) }
        .filter(_._2._1 > 0).toMap
      val byPk = perKey.groupBy("pk").agg(
          sum($"live".cast("long")),
          sum(org.apache.spark.sql.functions.when($"live", $"v")
            .otherwise(0L)),
          sum($"nd" + $"nm"))
        .orderBy("pk").as[(Long, Long, Long, Long)].collect()
      pks = byPk.map(_._1)
      liveCnt = byPk.map(_._2).scanLeft(0L)(_ + _)
      liveSum = byPk.map(_._3).scanLeft(0L)(_ + _)
      rawCnt = byPk.map(_._4).scanLeft(0L)(_ + _)
      totalCells = rawCnt.last
    } finally perKey.unpersist()
  }

  override def build(i: Int): Unit = {
    dir = s"$work/scan_merge/cells$i"
    val t0 = System.nanoTime()
    for (g <- 0 until Generations) {
      val op = rec.timed(s"write_gen$g", "write") {
        generation(g).repartitionByRange(cpus, col("pk"))
          .sortWithinPartitions("pk", "ck", "col")
          .write.format("graft.sources.CellSource").option("ttl", "true")
          .mode("append").save(dir)
      }(_ => ())
      if (!op.ok) throw new IllegalStateException(op.err)
    }
    writeS += (System.nanoTime() - t0) / 1e9
  }

  override def prepare(): Unit = {
    val t1 = System.nanoTime()
    reference()
    println(f"scan_merge reference model ${(System.nanoTime() - t1) / 1e9}%.1f s")
    writeCellsPerS = totalCells * Main.SetupRuns / writeS
    // Warm-up: passes over every query shape, so the JIT has compiled
    // the scan and merge paths before the clock starts.
    for (_ <- 1 to WarmupPasses) pass()
  }

  private def reader(reconcile: Boolean, split: Option[Int] = None) = {
    var r = spark.read.format("graft.sources.CellSource")
    if (reconcile)
      r = r.option("reconcile", "true").option("queryTime", QueryTime)
    for (i <- split)
      r = r.option("tokenSplits", Splits).option("tokenSplit", i)
    r.load(dir)
  }

  private def byCol(df: DataFrame): Array[Row] =
    df.groupBy("col").agg(count(lit(1)), sum("value")).collect()

  private def total(df: DataFrame): Array[Row] =
    df.agg(count(lit(1)), sum("value")).collect()

  private def checkByCol(want: Map[String, (Long, Long)])(rows: Array[Row]) = {
    val got = rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    if (got != want)
      throw new WrongResult(s"per-column (count, sum) $got != expected $want")
  }

  /** Index range of sorted `pks` inside [lo, hi]. */
  private def span(lo: Long, hi: Long): (Int, Int) = {
    def lower(x: Long) = {
      val i = java.util.Arrays.binarySearch(pks, x)
      if (i >= 0) i else -i - 1
    }
    (lower(lo), if (hi == Long.MaxValue) pks.length else lower(hi + 1))
  }

  private def checkRange(lo: Long, hi: Long)(rows: Array[Row]): Unit = {
    val (a, b) = span(lo, hi)
    val want = (liveCnt(b) - liveCnt(a), liveSum(b) - liveSum(a))
    val r = rows.head
    val got = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    if (got != want)
      throw new WrongResult(s"range [$lo, $hi]: (count, sum) $got != $want")
  }

  private def rawIn(lo: Long, hi: Long): Long = {
    val (a, b) = span(lo, hi)
    rawCnt(b) - rawCnt(a)
  }

  private def splitBounds(i: Int): (Long, Long) = {
    val ring = BigInt(1) << 64
    def bound(j: Int) = (BigInt(Long.MinValue) + ring * j / Splits).toLong
    (bound(i), if (i == Splits - 1) Long.MaxValue else bound(i + 1) - 1)
  }

  override def pass(): Unit = {
    val rangeWidth = Long.MaxValue / 32 // 1/64 of the token ring
    val mix = rng.shuffle(Seq("full", "raw", "range", "range", "range",
      "range", "split", "split"))
    mix.foreach {
      case "full" =>
        rec.timed("full_reconcile_agg", "full", totalCells)(
          byCol(reader(reconcile = true)))(checkByCol(liveByCol))
      case "raw" =>
        rec.timed("raw_agg", "raw", totalCells)(
          byCol(reader(reconcile = false)))(checkByCol(rawByCol))
      case "range" =>
        val lo = math.min(rng.nextLong(), Long.MaxValue - rangeWidth)
        val hi = lo + rangeWidth
        rec.timed("pk_range_scan", "range", rawIn(lo, hi))(
          total(reader(reconcile = true)
            .where(col("pk").between(lo, hi))))(checkRange(lo, hi))
      case "split" =>
        val i = rng.nextInt(Splits)
        val (lo, hi) = splitBounds(i)
        rec.timed("token_split_scan", "split", rawIn(lo, hi))(
          total(reader(reconcile = true, Some(i))))(checkRange(lo, hi))
    }
  }

  override def extra(): Map[String, (Double, String)] = {
    val ok = rec.ops.filter(o => o.pass > 0 && o.ok && o.request)
    Map(
      "scan_cells_per_s" -> (ok.map(_.cells).sum / (ok.map(_.ms).sum / 1000.0),
        "cells/s"),
      "scan_p50_ms" -> (Stats.median(ok.map(_.ms).toSeq), "ms"),
      "input_cells" -> (totalCells.toDouble, "cells"),
      "input_partitions" -> (Partitions.toDouble, "count"),
      "input_files" -> (CellFiles.count(dir).toDouble, "count"),
      "input_bytes" -> (CellFiles.bytes(dir).toDouble, "bytes"))
  }

  override def layers(): Map[String, Double] =
    Map("sources.write_cells_per_s" -> writeCellsPerS)
}

/** File counts and sizes of a cell table directory. */
object CellFiles {
  private def cells(dir: String): Seq[java.nio.file.Path] = {
    val d = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(d)) Nil
    else scala.util.Using.resource(java.nio.file.Files.list(d)) { s =>
      import scala.jdk.CollectionConverters._
      s.iterator.asScala.filter(_.getFileName.toString.endsWith(".cells"))
        .toList
    }
  }
  def count(dir: String): Int = cells(dir).length
  def bytes(dir: String): Long = cells(dir).map(java.nio.file.Files.size).sum
  def names(dir: String): Map[String, Long] =
    cells(dir).map(p => p.getFileName.toString -> java.nio.file.Files.size(p))
      .toMap
}
