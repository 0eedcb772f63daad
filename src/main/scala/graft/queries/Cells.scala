package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GQuery
import graft.cassandra.{CellModel => CM, CellSql}
import graft.sources.CellSnapshots

/** SURVEY §2 table C — the connector/scan semantics layer (what
  * cassowary's own code did). Each query exercises one reconciliation
  * operator from [[graft.cassandra.CellModel]] over the deterministic
  * synthetic cell table; oracles share [[CellSql.CELLS_CTE]] so DuckDB
  * reconstructs the identical relation. The scan-layer rows
  * (C1/C3/C8/C9) read through the DSv2 [[graft.sources.CellSource]]
  * connector over a materialized SSTable-lite snapshot — the custom
  * Spark data source IS the graded path; reconciliation rows
  * (C4–C11) consume the same relation from its parquet derivation
  * (identical contents, asserted in SourceSpec round-trip).
  */
object Cells {
  private val cte = CellSql.CELLS_CTE

  /** The cell relation via the DSv2 connector (binary snapshot scan). */
  private def src(s: SparkSession, d: String): DataFrame =
    CellSnapshots.read(s, d)

  // C1 — sstable_scan: enumerate raw cells (sampled, total order).
  private def scan(s: SparkSession, d: String): DataFrame =
    src(s, d).filter(col("pk") % 50 === 0)
      .orderBy(col("pk"), col("ck"), col("col"), col("wt"), col("value"))

  private val scanSql = cte +
    """SELECT pk, ck, col, value, wt FROM cells WHERE pk % 50 = 0
      |ORDER BY pk, ck, col, wt, value""".stripMargin

  // C3 — cell_deserialize: bytes → typed values (scaled long → double
  // via exact /100.0 division, identical fp op both engines).
  private def deserialize(s: SparkSession, d: String): DataFrame =
    src(s, d).filter(col("pk") % 50 === 0)
      .select(col("pk"), col("ck"), col("col"),
        (col("value") / 100.0).as("typed_value"),
        timestamp_millis(col("wt")).as("write_ts"))
      .orderBy(col("pk"), col("ck"), col("col"), col("write_ts"),
        col("typed_value"))

  private val deserializeSql = cte +
    """SELECT pk, ck, col, value / 100.0 AS typed_value,
      |  make_timestamp(wt * 1000) AS write_ts
      |FROM cells WHERE pk % 50 = 0
      |ORDER BY pk, ck, col, write_ts, typed_value""".stripMargin

  // C4 — lww_merge: keep max-writetime cell per (pk,ck,col), ties to
  // greater value (Cassandra byte-compare tie-break).
  private def lww(s: SparkSession, d: String): DataFrame =
    CM.lwwMerge(CM.cells(s, d)).filter(col("pk") % 10 === 0)
      .orderBy(col("pk"), col("ck"), col("col"))

  private val lwwSql = cte +
    """SELECT pk, ck, col, value, wt FROM merged WHERE pk % 10 = 0
      |ORDER BY pk, ck, col""".stripMargin

  // C5 — tombstone_filter: LWW survivors minus cells shadowed by
  // cell-/partition-level deletions; aggregate signature per column.
  private def tombstone(s: SparkSession, d: String): DataFrame = {
    val live = CM.tombstoneFilter(CM.lwwMerge(CM.cells(s, d)),
      CM.cellDeletions(s, d), CM.partitionDeletions(s, d))
    live.groupBy(col("col"))
      .agg(count(lit(1)).as("n_live"), sum(col("value")).as("sum_value"))
      .orderBy(col("col"))
  }

  private val tombstoneSql = cte +
    """SELECT col, CAST(COUNT(*) AS BIGINT) AS n_live,
      |  CAST(SUM(value) AS BIGINT) AS sum_value
      |FROM merged m
      |WHERE NOT EXISTS (SELECT 1 FROM cell_del c
      |    WHERE c.pk = m.pk AND c.ck = m.ck AND c.col = m.col
      |      AND c.dts >= m.wt)
      |  AND NOT EXISTS (SELECT 1 FROM part_del p
      |    WHERE p.pk = m.pk AND p.pdts >= m.wt)
      |GROUP BY col ORDER BY col""".stripMargin

  // C6 — ttl_expiry: drop cells whose writetime + ttl < query time.
  private def ttl(s: SparkSession, d: String): DataFrame =
    CM.ttlFilter(CM.lwwMerge(CM.cells(s, d)))
      .groupBy(col("col"))
      .agg(count(lit(1)).as("n_live"), sum(col("value")).as("sum_value"))
      .orderBy(col("col"))

  private val ttlSql = cte +
    s"""SELECT col, CAST(COUNT(*) AS BIGINT) AS n_live,
       |  CAST(SUM(value) AS BIGINT) AS sum_value
       |FROM merged
       |WHERE NOT (pk % 11 = 0 AND wt + ${CM.TtlMs} < ${CM.QueryTimeMs})
       |GROUP BY col ORDER BY col""".stripMargin

  // C7 — clustering_decode: reconciled wide rows in clustering order.
  private def clustering(s: SparkSession, d: String): DataFrame =
    CM.wideView(CM.lwwMerge(CM.cells(s, d)))
      .filter(col("pk") % 20 === 0)
      .orderBy(col("pk"), col("ck"))

  private val clusteringSql = cte +
    """SELECT pk, ck,
      |  CAST(max(CASE WHEN col = 'qty' THEN value END) AS BIGINT) AS qty,
      |  CAST(max(CASE WHEN col = 'price' THEN value END) AS BIGINT) AS price
      |FROM merged WHERE pk % 20 = 0
      |GROUP BY pk, ck ORDER BY pk, ck""".stripMargin

  // C8 — pk_pushdown: point lookup on the partition key; the predicate
  // reaches the connector, which prunes files by Summary range + bloom
  // filter and seeks via the sparse index (asserted in SourceSpec).
  private def pkPushdown(s: SparkSession, d: String): DataFrame =
    src(s, d).filter(col("pk") === 3)
      .orderBy(col("ck"), col("col"), col("wt"), col("value"))

  private val pkPushdownSql = cte +
    """SELECT pk, ck, col, value, wt FROM cells WHERE pk = 3
      |ORDER BY ck, col, wt, value""".stripMargin

  // C8b — multiget (the CQL `WHERE pk IN (...)` shape): the IN list
  // pushes into the connector, which prunes files PER VALUE (Summary
  // range + bloom) — k point reads planned as one scan, through the
  // reconcile merge (pk sets commute with it).
  private def multiget(s: SparkSession, d: String): DataFrame =
    CellSnapshots.readReconciled(s, d)
      .filter(col("pk").isin(3L, 7L, 2500L, 999999999L))
      .orderBy(col("pk"), col("ck"), col("col"))

  private val multigetSql = cte +
    """SELECT pk, ck, col, value, wt FROM merged
      |WHERE pk IN (3, 7, 2500, 999999999)
      |ORDER BY pk, ck, col""".stripMargin

  // C9 — col_pruning: project a column subset only; the connector's
  // pruneColumns narrows the record decode to (pk, ck, value).
  private def colPruning(s: SparkSession, d: String): DataFrame =
    src(s, d).filter(col("pk") % 50 === 0)
      .select(col("pk"), col("ck"), col("value"))
      .orderBy(col("pk"), col("ck"), col("value"))

  private val colPruningSql = cte +
    """SELECT pk, ck, value FROM cells WHERE pk % 50 = 0
      |ORDER BY pk, ck, value""".stripMargin

  // C10 — counter_merge: counter columns reconcile by shard SUM.
  private def counter(s: SparkSession, d: String): DataFrame =
    CM.counterMerge(CM.cells(s, d))
      .filter(col("pk") % 20 === 0)
      .orderBy(col("pk"), col("ck"))

  private val counterSql = cte +
    """SELECT pk, ck, CAST(SUM(value) AS BIGINT) AS counter,
      |  CAST(COUNT(*) AS BIGINT) AS n_shards
      |FROM cells WHERE col = 'qty' AND pk % 20 = 0
      |GROUP BY pk, ck ORDER BY pk, ck""".stripMargin

  // C11 — collection_reassemble: per-partition element cells → list.
  // The list is emitted '|'-joined (driver's comparer hashes scalars
  // only — array-typed output columns are unhashable on its side).
  private def reassemble(s: SparkSession, d: String): DataFrame =
    CM.reassembleList(CM.cells(s, d))
      .filter(col("pk") % 20 === 0)
      .select(col("pk"),
        array_join(col("elems").cast("array<string>"), "|").as("elems"))
      .orderBy(col("pk"))

  private val reassembleSql = cte +
    """SELECT pk, array_to_string(list(value ORDER BY ck, value), '|') AS elems
      |FROM cells WHERE col = 'qty' AND pk % 20 = 0
      |GROUP BY pk ORDER BY pk""".stripMargin

  // C5b — clustering-range tombstones (the RangeTombstone read-path
  // case); same aggregate signature as C5.
  private def rangeTombstone(s: SparkSession, d: String): DataFrame =
    CM.rangeTombstoneFilter(CM.lwwMerge(CM.cells(s, d)),
      CM.rangeDeletions(s, d))
      .groupBy(col("col"))
      .agg(count(lit(1)).as("n_live"), sum(col("value")).as("sum_value"))
      .orderBy(col("col"))

  private val rangeTombstoneSql = cte +
    """SELECT col, CAST(COUNT(*) AS BIGINT) AS n_live,
      |  CAST(SUM(value) AS BIGINT) AS sum_value
      |FROM merged m
      |WHERE NOT EXISTS (SELECT 1 FROM range_del r
      |    WHERE r.pk = m.pk AND m.ck BETWEEN r.ck_lo AND r.ck_hi
      |      AND r.rdts >= m.wt)
      |GROUP BY col ORDER BY col""".stripMargin

  // C12 — MAP reassembly: reconciled cells of a (pk, ck) become a real
  // MapType column; emitted as typed lookups + sorted k=v string (the
  // driver's comparer hashes scalars only).
  private def mapReassemble(s: SparkSession, d: String): DataFrame =
    CM.reassembleMap(CM.lwwMerge(CM.cells(s, d)))
      .filter(col("pk") % 20 === 0)
      .select(col("pk"), col("ck"),
        size(col("m")).as("n_keys"),
        element_at(col("m"), "qty").as("qty"),
        element_at(col("m"), "price").as("price"),
        expr("array_join(transform(array_sort(map_entries(m)), " +
          "e -> concat(e.key, '=', cast(e.value as string))), '|')")
          .as("kv"))
      .orderBy(col("pk"), col("ck"))

  private val mapReassembleSql = cte +
    """SELECT pk, ck, CAST(COUNT(*) AS INTEGER) AS n_keys,
      |  CAST(max(CASE WHEN col = 'qty' THEN value END) AS BIGINT) AS qty,
      |  CAST(max(CASE WHEN col = 'price' THEN value END) AS BIGINT) AS price,
      |  string_agg(col || '=' || value, '|' ORDER BY col) AS kv
      |FROM merged WHERE pk % 20 = 0
      |GROUP BY pk, ck ORDER BY pk, ck""".stripMargin

  // C13 — SET reassembly: distinct element cells per partition.
  private def setReassemble(s: SparkSession, d: String): DataFrame =
    CM.reassembleSet(CM.cells(s, d))
      .filter(col("pk") % 20 === 0)
      .select(col("pk"),
        array_join(col("elems").cast("array<string>"), "|").as("elems"))
      .orderBy(col("pk"))

  private val setReassembleSql = cte +
    """SELECT pk,
      |  array_to_string(list(DISTINCT value ORDER BY value), '|') AS elems
      |FROM cells WHERE col = 'qty' AND pk % 20 = 0
      |GROUP BY pk ORDER BY pk""".stripMargin

  // C14 — typed cell decode beyond BIGINT: string LWW (flag), decimal
  // (scaled price), and a deterministic UUID-format id from md5.
  private def typedDecode(s: SparkSession, d: String): DataFrame = {
    val h = md5(concat(col("pk").cast("string"), lit(":"),
      col("ck").cast("string")))
    CM.lwwMergeOn(CM.stringCells(s, d), "sval")
      .filter(col("pk") % 25 === 0)
      // decimal decode emitted as integer CENTS: a DECIMAL(12,2) column
      // hashes as Decimal objects from Spark but float64 from DuckDB's
      // pandas conversion (r02's one mismatch) — integer-scale instead,
      // same pattern as N_SIM3/C12.
      .select(col("pk"), col("ck"), col("sval").as("flag"),
        round(col("dval") * 100).cast("long").as("dec_cents"),
        concat(substring(h, 1, 8), lit("-"), substring(h, 9, 4), lit("-"),
          substring(h, 13, 4), lit("-"), substring(h, 17, 4), lit("-"),
          substring(h, 21, 12)).as("uid"))
      .orderBy(col("pk"), col("ck"))
  }

  private val typedDecodeSql = cte +
    """SELECT pk, ck, sval AS flag,
      |  CAST(ROUND(dval * 100) AS BIGINT) AS dec_cents,
      |  substr(h, 1, 8) || '-' || substr(h, 9, 4) || '-' ||
      |    substr(h, 13, 4) || '-' || substr(h, 17, 4) || '-' ||
      |    substr(h, 21, 12) AS uid
      |FROM (SELECT *, md5(CAST(pk AS VARCHAR) || ':' || CAST(ck AS VARCHAR)) AS h
      |      FROM str_merged)
      |WHERE pk % 25 = 0 ORDER BY pk, ck""".stripMargin

  // C15 — static columns: per-partition metadata surfaced on every
  // clustering row (CQL `static` semantics).
  private def statics(s: SparkSession, d: String): DataFrame =
    // the pk % 20 partition filter COMMUTES with per-(pk,ck,col) LWW
    // and with the per-pk static aggregate (each groups WITHIN one
    // partition), so it applies at the SOURCE on both branches —
    // 1/20th of the cells enter the window shuffle instead of all of
    // them (pre-r14 it ran post-merge, and C15 carried a floor flag
    // for three straight rounds)
    CM.withStatics(
      CM.wideView(CM.lwwMerge(
        CM.cells(s, d).filter(col("pk") % 20 === 0))),
      CM.staticCells(s, d).filter(col("pk") % 20 === 0))
      .select(col("pk"), col("ck"), col("qty"), col("price"),
        col("last_wt"))
      .orderBy(col("pk"), col("ck"))

  private val staticsSql = cte +
    """SELECT w.pk, w.ck, w.qty, w.price, st.last_wt FROM (
      |  SELECT pk, ck,
      |    CAST(max(CASE WHEN col = 'qty' THEN value END) AS BIGINT) AS qty,
      |    CAST(max(CASE WHEN col = 'price' THEN value END) AS BIGINT) AS price
      |  FROM merged WHERE pk % 20 = 0 GROUP BY pk, ck) w
      |JOIN (SELECT pk, max(wt) AS last_wt FROM base GROUP BY pk) st
      |  ON w.pk = st.pk
      |ORDER BY w.pk, w.ck""".stripMargin

  // C16 — incremental scan: "cells written on/after T", the
  // change-data path of a snapshot store. The wt predicate pushes into
  // the connector, whose per-chunk writetime zone maps (Statistics.db
  // analogue) drop chunks at planning time; TPC-H orderkeys correlate
  // with time, so pk-sorted chunks genuinely narrow.
  private def incremental(s: SparkSession, d: String): DataFrame = {
    val cutoff = 867715200000L // 1997-07-01 UTC in epoch ms
    src(s, d).filter(col("wt") >= cutoff)
      .groupBy(col("col"))
      .agg(count(lit(1)).as("n_new"), sum(col("value")).as("sum_value"),
        min(col("wt")).as("first_wt"))
      .orderBy(col("col"))
  }

  private val incrementalSql = cte +
    """SELECT col, CAST(COUNT(*) AS BIGINT) AS n_new,
      |  CAST(SUM(value) AS BIGINT) AS sum_value,
      |  MIN(wt) AS first_wt
      |FROM cells WHERE wt >= 867715200000
      |GROUP BY col ORDER BY col""".stripMargin

  // C17 — compaction: what a major compaction at QueryTimeMs writes
  // out, summarized per pk-decile: live cells surviving the full
  // reconciliation chain (LWW → cell/partition/range tombstones → TTL)
  // plus the tombstone GC split (purged past gc_grace vs retained).
  private def compaction(s: SparkSession, d: String): DataFrame = {
    val live = CM.compactLive(CM.cells(s, d), CM.cellDeletions(s, d),
      CM.partitionDeletions(s, d), CM.rangeDeletions(s, d))
    val liveStats = live.groupBy((col("pk") % 10).as("g"))
      .agg(count(lit(1)).as("n_live"), sum(col("value")).as("sum_live"))
    val tsStats = CM.tombstoneGc(CM.cellDeletions(s, d),
        CM.partitionDeletions(s, d), CM.rangeDeletions(s, d))
      .groupBy((col("pk") % 10).as("g"))
      .agg(sum(when(col("purged"), 1L).otherwise(0L)).as("n_ts_purged"),
        sum(when(!col("purged"), 1L).otherwise(0L)).as("n_ts_retained"))
    liveStats.join(tsStats, Seq("g"), "full")
      .select(col("g"),
        coalesce(col("n_live"), lit(0L)).as("n_live"),
        coalesce(col("sum_live"), lit(0L)).as("sum_live"),
        coalesce(col("n_ts_purged"), lit(0L)).as("n_ts_purged"),
        coalesce(col("n_ts_retained"), lit(0L)).as("n_ts_retained"))
      .orderBy(col("g"))
  }

  private val compactionSql = cte +
    s""", live AS (
       |  SELECT m.* FROM merged m
       |  WHERE NOT EXISTS (SELECT 1 FROM cell_del c
       |      WHERE c.pk = m.pk AND c.ck = m.ck AND c.col = m.col
       |        AND c.dts >= m.wt)
       |    AND NOT EXISTS (SELECT 1 FROM part_del p
       |      WHERE p.pk = m.pk AND p.pdts >= m.wt)
       |    AND NOT EXISTS (SELECT 1 FROM range_del r
       |      WHERE r.pk = m.pk AND m.ck BETWEEN r.ck_lo AND r.ck_hi
       |        AND r.rdts >= m.wt)
       |    AND NOT (m.pk % 11 = 0 AND m.wt + ${CM.TtlMs} < ${CM.QueryTimeMs})
       |), all_ts AS (
       |  SELECT pk, dts AS ts FROM cell_del
       |  UNION ALL SELECT pk, pdts FROM part_del
       |  UNION ALL SELECT pk, rdts FROM range_del
       |), ls AS (
       |  SELECT pk % 10 AS g, CAST(count(*) AS BIGINT) AS n_live,
       |    CAST(sum(value) AS BIGINT) AS sum_live
       |  FROM live GROUP BY 1
       |), ts AS (
       |  SELECT pk % 10 AS g,
       |    CAST(sum(CASE WHEN ts < ${CM.QueryTimeMs - CM.GcGraceMs}
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_ts_purged,
       |    CAST(sum(CASE WHEN ts >= ${CM.QueryTimeMs - CM.GcGraceMs}
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_ts_retained
       |  FROM all_ts GROUP BY 1)
       |SELECT COALESCE(ls.g, ts.g) AS g,
       |  COALESCE(n_live, 0) AS n_live,
       |  COALESCE(sum_live, 0) AS sum_live,
       |  COALESCE(n_ts_purged, 0) AS n_ts_purged,
       |  COALESCE(n_ts_retained, 0) AS n_ts_retained
       |FROM ls FULL JOIN ts ON ls.g = ts.g
       |ORDER BY g""".stripMargin

  // C18 — secondary-index lookup: answer an equality predicate on a
  // VALUE (qty = 2500) through the inverted index + (pk, ck) semi-join
  // back to the wide view, never scanning the primary relation for the
  // predicate. Index hits and direct-filter rows must agree — which is
  // exactly what the oracle checks.
  private def secondaryIdx(s: SparkSession, d: String): DataFrame = {
    val merged = CM.lwwMerge(CM.cells(s, d))
    val hits = CM.secondaryIndex(merged, "qty")
      .filter(col("ival") === 2500)
      .select(col("pk"), col("ck"))
    CM.wideView(merged).join(hits, Seq("pk", "ck"), "left_semi")
      .orderBy(col("pk"), col("ck"))
  }

  private val secondaryIdxSql = cte +
    """SELECT pk, ck,
      |  CAST(max(CASE WHEN col = 'qty' THEN value END) AS BIGINT) AS qty,
      |  CAST(max(CASE WHEN col = 'price' THEN value END) AS BIGINT) AS price
      |FROM merged
      |GROUP BY pk, ck
      |HAVING max(CASE WHEN col = 'qty' THEN value END) = 2500
      |ORDER BY pk, ck""".stripMargin

  // C18b — connector-side secondary index (the Cassandra 2i story):
  // the inverted index is ITS OWN cell table whose partition key is
  // the indexed VALUE, so the equality lookup is a Summary/bloom-
  // pruned POINT SCAN of the index table; the (tiny, auto-broadcast)
  // hit set semi-joins back to the reconciled wide view with the
  // predicate re-applied — Cassandra's re-read-and-filter. Shares
  // C18's oracle, so the two index paths cross-check each other.
  private def secondaryIdxScan(s: SparkSession, d: String): DataFrame = {
    val pks = graft.sources.CellIndex.lookupPks(s,
      CellSnapshots.ensureIndexed(s, d), 2500L)
    CM.wideView(CellSnapshots.readReconciled(s, d))
      .join(pks, Seq("pk"), "left_semi")
      .filter(col("qty") === 2500)
      .orderBy(col("pk"), col("ck"))
  }

  // C18c — STRING-valued secondary index (round 7): the indexed value
  // is text, so the index cell table's partition key is a CEL6 typed
  // key and the equality lookup hashes the probe to its token for the
  // same Summary/bloom point-read pruning the long index gets. Hit
  // pks semi-join back to the reconciled string view with the
  // predicate re-applied; the oracle filters str_merged directly.
  private def stringIdxScan(s: SparkSession, d: String): DataFrame = {
    val pks = graft.sources.CellIndex.lookupPks(s,
      CellSnapshots.ensureStringIndexed(s, d), "XR")
    CellSnapshots.readStringReconciled(s, d)
      .join(pks, Seq("pk"), "left_semi")
      .filter(col("value") === "XR")
      .orderBy(col("pk"), col("ck"))
  }

  private val stringIdxSql = cte +
    """SELECT pk, ck, col, sval AS value, wt FROM str_merged
      |WHERE sval = 'XR' ORDER BY pk, ck""".stripMargin

  // C18g — secondary index over a TYPED (string-keyed) BASE (round
  // 9 machinery, hash-checked round 10): the index entry's value
  // slot carries the base's STRING key part, and the lookup composes
  // back into the typed base by part name. The filter re-applies the
  // predicate (refresh-epoch false positives drop), so the oracle is
  // the merged relation re-keyed and filtered directly.
  private def typedBaseIdxScan(s: SparkSession, d: String): DataFrame = {
    val hits = graft.sources.CellIndex.lookupPks(s,
      CellSnapshots.ensureKeyedIndexed(s, d), 2500L)
    CellSnapshots.readKeyedReconciled(s, d)
      .join(hits.withColumnRenamed("pk", "user"), Seq("user"),
        "left_semi")
      .filter(col("col") === "qty" && col("value") === 2500)
      .orderBy(col("user"), col("ck"))
  }

  private val typedBaseIdxSql = cte +
    """SELECT 'user-' || pk AS user, ck, col, value, wt FROM merged
      |WHERE col = 'qty' AND value = 2500
      |ORDER BY user, ck""".stripMargin

  // C18h — secondary index over a COMPOSITE ((tenant, day), seq)
  // partition key (round 10): the entry's value is the C59-packed
  // (tenant, day) tuple; the lookup unpacks it and composes the base
  // read as bounded per-tuple point predicates (or a semi join past
  // the multiget bound). Same re-applied predicate, same direct
  // oracle.
  private def compositeIdxScan(s: SparkSession, d: String): DataFrame = {
    val dir = CellSnapshots.ensureComposite(s, d)
    graft.sources.CellIndex.lookupBase(s, dir,
      CellSnapshots.ensureCompositeIndexed(s, d), 2500L)
      .filter(col("col") === "qty" && col("value") === 2500)
      .orderBy(col("tenant"), col("day"), col("seq"))
  }

  private val compositeIdxSql = cte +
    """SELECT 't' || (pk % 8) AS tenant, pk // 8 AS day, ck AS seq,
      |  col, value, wt
      |FROM merged WHERE col = 'qty' AND value = 2500
      |ORDER BY tenant, day, seq""".stripMargin

  // C18e — SASI-style RANGE query through the secondary index: qty ∈
  // [1000, 1500]. The long-valued index table's pk IS the indexed
  // value with identity tokens, so the range pushes as a
  // Summary-pruned pk range over the INDEX (files outside the value
  // range never open — Cassandra SASI's sparse numeric mode); hit pks
  // compose into the base read (multiget or semi join) and the value
  // predicate re-applies on the wide view, dropping refresh-epoch
  // false positives exactly like the equality path.
  private def rangeIdxScan(s: SparkSession, d: String): DataFrame = {
    val base = CellSnapshots.ensure(s, d)
    val rows = graft.sources.CellIndex.lookupBaseRange(s, base,
      CellSnapshots.ensureIndexed(s, d), 1000L, 1500L)
    CM.wideView(rows)
      .filter(col("qty").between(1000L, 1500L))
      .orderBy(col("pk"), col("ck"))
  }

  private val rangeIdxSql = cte +
    """SELECT pk, ck,
      |  CAST(max(CASE WHEN col = 'qty' THEN value END) AS BIGINT)
      |    AS qty,
      |  CAST(max(CASE WHEN col = 'price' THEN value END) AS BIGINT)
      |    AS price
      |FROM merged
      |GROUP BY pk, ck
      |HAVING max(CASE WHEN col = 'qty' THEN value END)
      |  BETWEEN 1000 AND 1500
      |ORDER BY pk, ck""".stripMargin

  // C20 — header-only aggregate: the unfiltered COUNT/MIN/MAX trio is
  // completely pushed into the connector (SupportsPushDownAggregates)
  // and answered from Summary ranges + chunk-table counts — the plan
  // is a CellAggScan that reads zero data-section bytes (PlanSpec
  // asserts the scan node; SourceSpec asserts the fallback).
  private def headerAgg(s: SparkSession, d: String): DataFrame =
    src(s, d).selectExpr("count(*) AS n_cells", "min(pk) AS min_pk",
      "max(pk) AS max_pk")

  private val headerAggSql = cte +
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
      |  CAST(MIN(pk) AS BIGINT) AS min_pk,
      |  CAST(MAX(pk) AS BIGINT) AS max_pk
      |FROM cells""".stripMargin

  // C22 — PER PARTITION LIMIT n (a first-class CQL clause): the first
  // n clustering rows of every partition, executed INSIDE the
  // connector's merge cursor (round 7, VERDICT r6 "Next round" §3):
  // the cursor streams (pk, ck)-sorted winners, counts distinct cks
  // per pk and stops emitting past n — no post-scan window, no
  // row_number shuffle over the full reconciled view; the relational
  // layer only pivots the ≤ 2n surviving cells per pk into the wide
  // rows. Same oracle as the old window form.
  private def perPartitionLimit(s: SparkSession, d: String): DataFrame = {
    val limited = s.read.format("graft.sources.CellSource")
      .option("reconcile", "true").option("perPartitionLimit", "2")
      .load(CellSnapshots.ensure(s, d))
    CM.wideView(limited).orderBy(col("pk"), col("ck"))
  }

  private val perPartitionLimitSql = cte +
    """SELECT pk, ck, qty, price FROM (
      |  SELECT pk, ck, qty, price,
      |    ROW_NUMBER() OVER (PARTITION BY pk ORDER BY ck) AS rn
      |  FROM (
      |    SELECT pk, ck,
      |      CAST(max(CASE WHEN col = 'qty' THEN value END) AS BIGINT) AS qty,
      |      CAST(max(CASE WHEN col = 'price' THEN value END) AS BIGINT)
      |        AS price
      |    FROM merged GROUP BY pk, ck))
      |WHERE rn <= 2 ORDER BY pk, ck""".stripMargin

  // C23 — anti-entropy range digests (the repair/Merkle-tree leaf
  // analogue): per contiguous pk range, a content digest of every raw
  // cell in canonical order plus the cell count. Two replicas compare
  // digests per range and stream only mismatching ranges — here the
  // leaf computation itself: bucket → sorted cell strings → md5.
  // The leaf list is bounded by the range width (the Merkle leaf
  // granularity knob), not the table size — and that bound is now
  // ENFORCED: graft_collect_bounded fails fast past
  // graft.maxGroupWidth elements instead of OOMing the task on a
  // pathological range (VERDICT r4 "What's wrong" §3).
  private def rangeDigest(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val lim = graft.functions.BoundedCollect.maxGroupWidth(s)
    val cs = concat_ws(":", col("pk"), col("ck"), col("col"),
      col("value"), col("wt"))
    CM.cells(s, d)
      .select(expr("pk div 1024").as("bucket"), cs.as("cs"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_cells"),
        md5(array_join(sort_array(
          expr(s"graft_collect_bounded(cs, $lim)")), "|")
          .cast("binary")).as("digest"))
      .orderBy(col("bucket"))
  }

  private val rangeDigestSql = cte +
    """SELECT pk // 1024 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_cells,
      |  md5(string_agg(concat_ws(':', pk, ck, col, value, wt), '|'
      |    ORDER BY concat_ws(':', pk, ck, col, value, wt))) AS digest
      |FROM cells GROUP BY 1 ORDER BY bucket""".stripMargin

  // C24 — reconciling scan: C4's LWW semantics performed INSIDE the
  // connector reader (k-way merge across flush files, Cassandra read
  // path shape) instead of a Spark shuffle; same oracle as C4, so the
  // two paths are cross-checked against each other via DuckDB.
  private def reconcileScan(s: SparkSession, d: String): DataFrame =
    CellSnapshots.readReconciled(s, d).filter(col("pk") % 10 === 0)
      .orderBy(col("pk"), col("ck"), col("col"))

  // C14b — typed connector round-trip: the string-valued 'flag' cells
  // written through the connector as a CEL5 string table, read back
  // through the typed RECONCILING scan (string LWW tie-break in the
  // k-way merge). Oracle = the str_merged CTE, so the whole
  // write→merge→read path is checked against DuckDB.
  private def typedConnector(s: SparkSession, d: String): DataFrame =
    CellSnapshots.readStringReconciled(s, d).filter(col("pk") % 10 === 0)
      .orderBy(col("pk"), col("ck"))

  private val typedConnectorSql = cte +
    """SELECT pk, ck, col, sval AS value, wt FROM str_merged
      |WHERE pk % 10 = 0 ORDER BY pk, ck""".stripMargin

  // C27 — tombstone-aware reconcile: deletions travel IN the flush
  // stream as sort-first marker cells, and the connector's merge
  // consumes them as shadowing state — C5's tombstone_filter performed
  // entirely inside the reader, sharing C5's oracle.
  private def tombstoneScan(s: SparkSession, d: String): DataFrame =
    CellSnapshots.readLive(s, d)
      .groupBy(col("col"))
      .agg(count(lit(1)).as("n_live"), sum(col("value")).as("sum_value"))
      .orderBy(col("col"))

  // C28 — TTL-aware reconcile: table-default TTL travels as a `!ttl*`
  // marker; a reconciling scan with queryTime drops expired winners —
  // C6's ttl_expiry inside the reader, sharing C6's oracle.
  private def ttlScan(s: SparkSession, d: String): DataFrame =
    CellSnapshots.readUnexpired(s, d)
      .groupBy(col("col"))
      .agg(count(lit(1)).as("n_live"), sum(col("value")).as("sum_value"))
      .orderBy(col("col"))

  // C5b-variant — clustering-range tombstones INSIDE the connector:
  // range deletions travel in the flush stream as sort-first
  // `!delr:<lo>:<hi>` markers at ck = Int.MinValue, and the merge
  // cursor keeps the active range set per pk — C5b's
  // rangeTombstoneFilter performed entirely in the reader, sharing
  // C5b's NOT-EXISTS-BETWEEN oracle.
  private def rangeTombstoneScan(s: SparkSession, d: String): DataFrame =
    CellSnapshots.readRangeLive(s, d)
      .groupBy(col("col"))
      .agg(count(lit(1)).as("n_live"), sum(col("value")).as("sum_value"))
      .orderBy(col("col"))

  // C10b — counter tables through the connector: the same flush
  // snapshot read with counter=true, which switches the merge cursor's
  // per-key combine from LWW to shard-SUM (value = Σ shards, wt = max
  // shard wt) — C10's counter_merge semantics inside the reader,
  // checked against a direct SUM/GROUP BY oracle over the raw cells.
  private def counterScan(s: SparkSession, d: String): DataFrame =
    CellSnapshots.readCounter(s, d).filter(col("pk") % 20 === 0)
      .orderBy(col("pk"), col("ck"), col("col"))

  private val counterScanSql = cte +
    """SELECT pk, ck, col, CAST(SUM(value) AS BIGINT) AS value,
      |  MAX(wt) AS wt
      |FROM cells WHERE pk % 20 = 0
      |GROUP BY pk, ck, col ORDER BY pk, ck, col""".stripMargin

  // C11b — collection cells through the connector: CQL collections
  // are ELEMENT-PER-CELL on disk (one cell per list/set element, one
  // per map entry) — which is exactly the CEL5 encoding, so
  // collection writes need no special casing in the connector.
  // Reassembly is the relational layer over the RECONCILED scan: the
  // reader k-way-merges element cells across flush files (LWW per
  // element), and reassembleList folds the winners into the ordered
  // list — the full write→merge→reassemble path against C11's
  // list(... ORDER BY) oracle over the merged relation.
  private def listScan(s: SparkSession, d: String): DataFrame =
    CM.reassembleList(CellSnapshots.readReconciled(s, d))
      .filter(col("pk") % 20 === 0)
      .select(col("pk"),
        array_join(col("elems").cast("array<string>"), "|").as("elems"))
      .orderBy(col("pk"))

  private val listScanSql = cte +
    """SELECT pk, array_to_string(list(value ORDER BY ck, value), '|') AS elems
      |FROM merged WHERE col = 'qty' AND pk % 20 = 0
      |GROUP BY pk ORDER BY pk""".stripMargin

  // C29 — the full read path in ONE scan: LWW + tombstone shadowing +
  // TTL expiry, all inside the connector's reconciling reader over one
  // marker-bearing snapshot. Oracle composes C5's NOT EXISTS with
  // C6's expiry predicate over the shared merged CTE.
  private def fullReadPath(s: SparkSession, d: String): DataFrame =
    CellSnapshots.readFullLive(s, d)
      .groupBy(col("col"))
      .agg(count(lit(1)).as("n_live"), sum(col("value")).as("sum_value"))
      .orderBy(col("col"))

  private val fullReadPathSql = cte +
    s"""SELECT col, CAST(COUNT(*) AS BIGINT) AS n_live,
       |  CAST(SUM(value) AS BIGINT) AS sum_value
       |FROM merged m
       |WHERE NOT EXISTS (SELECT 1 FROM cell_del c
       |    WHERE c.pk = m.pk AND c.ck = m.ck AND c.col = m.col
       |      AND c.dts >= m.wt)
       |  AND NOT EXISTS (SELECT 1 FROM part_del p
       |    WHERE p.pk = m.pk AND p.pdts >= m.wt)
       |  AND NOT (pk % 11 = 0 AND wt + ${CM.TtlMs} < ${CM.QueryTimeMs})
       |GROUP BY col ORDER BY col""".stripMargin

  // C36 — typed partition keys (CEL6) through the connector: the cell
  // relation re-keyed by the TEXT key `user = 'user-' || pk`, written
  // through the typed write path and LWW-merged by the typed k-way
  // cursor (token order + typed comparator). Shares C4's merged
  // oracle modulo the key derivation, which DuckDB reproduces
  // verbatim.
  private def typedKeyScan(s: SparkSession, d: String): DataFrame =
    CellSnapshots.readKeyedReconciled(s, d)
      .filter(expr("CAST(substring(user, 6) AS BIGINT) % 10 = 0"))
      .orderBy(col("user"), col("ck"), col("col"))

  private val typedKeyScanSql = cte +
    """SELECT 'user-' || pk AS user, ck, col, value, wt FROM merged
      |WHERE pk % 10 = 0
      |ORDER BY user, ck, col""".stripMargin

  // C36b — the typed MULTIGET: `user IN (...)` hashes each text key to
  // its partition token and prunes files per value (Summary emptiness
  // + token bloom), exactly C8b's shape on a hashed text key. One
  // probe is absent on purpose: the empty side must agree too.
  private def typedKeyMultiget(s: SparkSession, d: String): DataFrame =
    CellSnapshots.readKeyedReconciled(s, d)
      .filter(col("user").isin("user-3", "user-32", "user-999999999"))
      .orderBy(col("user"), col("ck"), col("col"))

  private val typedKeyMultigetSql = cte +
    """SELECT 'user-' || pk AS user, ck, col, value, wt FROM merged
      |WHERE pk IN (3, 32, 999999999)
      |ORDER BY user, ck, col""".stripMargin

  // C37 — clustering-slice pushdown (round 7): `ck BETWEEN 2 AND 4`
  // is THE CQL read shape (`WHERE pk = ? AND ck >= ? AND ck <= ?`),
  // pushed INTO the reconciling scan — CEL7 per-chunk clustering zone
  // maps prune chunks, the merge cursor skips out-of-slice rows
  // pre-materialization, and marker-bearing chunks are always kept so
  // the slice still sees every tombstone that shadows it (oracle
  // composes the slice with C5's NOT-EXISTS shadowing).
  private def clusteringSlice(s: SparkSession, d: String): DataFrame =
    CellSnapshots.readLive(s, d)
      .filter(col("pk") % 10 === 0 && col("ck").between(2, 4))
      .orderBy(col("pk"), col("ck"), col("col"))

  private val clusteringSliceSql = cte +
    """SELECT pk, ck, col, value, wt FROM merged m
      |WHERE pk % 10 = 0 AND ck BETWEEN 2 AND 4
      |  AND NOT EXISTS (SELECT 1 FROM cell_del c
      |    WHERE c.pk = m.pk AND c.ck = m.ck AND c.col = m.col
      |      AND c.dts >= m.wt)
      |  AND NOT EXISTS (SELECT 1 FROM part_del p
      |    WHERE p.pk = m.pk AND p.pdts >= m.wt)
      |ORDER BY pk, ck, col""".stripMargin

  // C38 — DELETE-as-tombstone (round 7): SQL DELETE through the V2
  // catalog writes marker flushes (partition / row / range tombstone
  // per the predicate shape) instead of rewriting data; the fixture
  // applies a partition, a row, and a range delete through
  // CellTable.deleteWhere (the exact path SQL DELETE takes), and the
  // reconciled read must shadow precisely those keys. Marker wt is
  // (max wt + 1), so the oracle is merged minus the key predicates.
  private def deleteTombstones(s: SparkSession, d: String): DataFrame =
    CellSnapshots.readDeleted(s, d)
      .filter(col("pk") <= 60)
      .orderBy(col("pk"), col("ck"), col("col"))

  private val deleteTombstonesSql = cte +
    """SELECT pk, ck, col, value, wt FROM merged
      |WHERE pk <= 60
      |  AND pk NOT IN (5, 7)
      |  AND NOT (pk = 1 AND ck = 2)
      |  AND NOT (pk = 3 AND ck BETWEEN 2 AND 4)
      |ORDER BY pk, ck, col""".stripMargin

  // C39 — reversed clustering reads (round 7): CQL's `ORDER BY ck
  // DESC LIMIT n` per partition — the "latest n rows per key" read.
  // The scan's reverse mode emits each partition tail-first from a
  // bounded per-ck ring (the forward merge still folds markers before
  // the data they shadow), and PER PARTITION LIMIT keeps the LAST n
  // clustering rows, not the first n. Oracle: dense_rank over ck DESC.
  private def reverseLatest(s: SparkSession, d: String): DataFrame =
    s.read.format("graft.sources.CellSource")
      .option("reconcile", "true").option("reverse", "true")
      .option("perPartitionLimit", "2")
      .load(CellSnapshots.ensure(s, d))
      .orderBy(col("pk"), col("ck"), col("col"))

  private val reverseLatestSql = cte +
    """SELECT pk, ck, col, value, wt FROM (
      |  SELECT m.*, DENSE_RANK() OVER (PARTITION BY pk
      |    ORDER BY ck DESC) AS rn FROM merged m)
      |WHERE rn <= 2 ORDER BY pk, ck, col""".stripMargin

  // C38b — DELETE-as-tombstone on a TYPED-key table (round 7, second
  // half): the same partition / row / int-ck-range deletes as C38,
  // addressed by the hashed STRING key — marker rows ride the typed
  // write path and fold in the typed merge cursor. Oracle: merged
  // minus the key predicates, with the user mapping.
  private def typedDelete(s: SparkSession, d: String): DataFrame =
    CellSnapshots.readKeyedDeleted(s, d)
      .filter(expr("CAST(substring(user, 6) AS BIGINT) <= 60"))
      .orderBy(col("user"), col("ck"), col("col"))

  private val typedDeleteSql = cte +
    """SELECT 'user-' || pk AS user, ck, col, value, wt FROM merged
      |WHERE pk <= 60
      |  AND pk NOT IN (5, 7)
      |  AND NOT (pk = 1 AND ck = 2)
      |  AND NOT (pk = 3 AND ck BETWEEN 2 AND 4)
      |ORDER BY user, ck, col""".stripMargin

  // C39b — reversed clustering reads on a TYPED-key table: `ORDER BY
  // ck DESC PER PARTITION LIMIT 2` where the partition key is hashed
  // text — the typed reversing cursor keeps the LAST 2 clustering
  // rows per user from the forward typed merge.
  private def typedReverse(s: SparkSession, d: String): DataFrame =
    s.read.format("graft.sources.CellSource")
      .option("reconcile", "true").option("reverse", "true")
      .option("perPartitionLimit", "2")
      .load(CellSnapshots.ensureKeyed(s, d))
      .orderBy(col("user"), col("ck"), col("col"))

  private val typedReverseSql = cte +
    """SELECT 'user-' || pk AS user, ck, col, value, wt FROM (
      |  SELECT m.*, DENSE_RANK() OVER (PARTITION BY pk
      |    ORDER BY ck DESC) AS rn FROM merged m)
      |WHERE rn <= 2 ORDER BY user, ck, col""".stripMargin

  // C37b — the clustering slice on a TYPED-key table (round 7,
  // second half): `WHERE user = ... AND ck BETWEEN 2 AND 4` with a
  // hashed text partition key — CEL8 per-chunk typed zone maps prune
  // chunks, the typed merge cursor skips out-of-slice rows
  // pre-materialization, and the residual filter keeps exactness.
  private def typedSlice(s: SparkSession, d: String): DataFrame =
    CellSnapshots.readKeyedReconciled(s, d)
      .filter(expr("CAST(substring(user, 6) AS BIGINT) % 10 = 0") &&
        col("ck").between(2, 4))
      .orderBy(col("user"), col("ck"), col("col"))

  private val typedSliceSql = cte +
    """SELECT 'user-' || pk AS user, ck, col, value, wt FROM merged
      |WHERE pk % 10 = 0 AND ck BETWEEN 2 AND 4
      |ORDER BY user, ck, col""".stripMargin

  // C40 — MATERIALIZED VIEW (round 7, second half): the base table
  // re-keyed by its 'qty' value (Cassandra's
  // `CREATE MATERIALIZED VIEW ... PRIMARY KEY (qty, pk, ck)`); the
  // view holds the FULL row, so a value lookup answers from the
  // view's typed point read with zero base-table I/O. Oracle: merged
  // self-joined on the qty keys.
  private def materializedView(s: SparkSession, d: String): DataFrame =
    CellSnapshots.readViewed(s, d)
      .filter(col("vk") % 50 === 0)
      .orderBy(col("vk"), col("bpk"), col("bck"), col("col"))

  private val materializedViewSql = cte +
    """, vkeys AS (SELECT pk, ck, value AS vk FROM merged
      |  WHERE col = 'qty')
      |SELECT k.vk, m.pk AS bpk, m.ck AS bck, m.col, m.value, m.wt
      |FROM merged m JOIN vkeys k ON m.pk = k.pk AND m.ck = k.ck
      |WHERE k.vk % 50 = 0
      |ORDER BY vk, bpk, bck, col""".stripMargin

  // C40b — MATERIALIZED VIEW over the TYPED (string-keyed) base
  // (round 9 machinery, hash-checked round 10): view key
  // `((vk), buser, bck)` — the base's string part rides in the view
  // clustering under the b-prefix. Oracle: merged re-keyed through
  // the same 'user-' derivation, self-joined on the qty keys.
  private def typedBaseViewScan(s: SparkSession, d: String): DataFrame =
    graft.sources.CellView.read(s,
      CellSnapshots.ensureKeyedViewed(s, d))
      .filter(col("vk") % 50 === 0)
      .orderBy(col("vk"), col("buser"), col("bck"), col("col"))

  private val typedBaseViewSql = cte +
    """, vkeys AS (SELECT pk, ck, value AS vk FROM merged
      |  WHERE col = 'qty')
      |SELECT k.vk, 'user-' || m.pk AS buser, m.ck AS bck, m.col,
      |  m.value, m.wt
      |FROM merged m JOIN vkeys k ON m.pk = k.pk AND m.ck = k.ck
      |WHERE k.vk % 50 = 0
      |ORDER BY vk, buser, bck, col""".stripMargin

  // C40c — MATERIALIZED VIEW over the COMPOSITE ((tenant, day), seq)
  // base (round 10): view key `((vk), btenant, bday, bseq)` — every
  // base part becomes view clustering, multi-part pks included.
  private def compositeViewScan(s: SparkSession, d: String): DataFrame =
    graft.sources.CellView.read(s,
      CellSnapshots.ensureCompositeViewed(s, d))
      .filter(col("vk") % 50 === 0)
      .orderBy(col("vk"), col("btenant"), col("bday"), col("bseq"),
        col("col"))

  private val compositeViewSql = cte +
    """, comp AS (SELECT 't' || (pk % 8) AS tenant, pk // 8 AS day,
      |    ck AS seq, col, value, wt FROM merged),
      |vkeys AS (SELECT tenant, day, seq, value AS vk FROM comp
      |  WHERE col = 'qty')
      |SELECT k.vk, m.tenant AS btenant, m.day AS bday, m.seq AS bseq,
      |  m.col, m.value, m.wt
      |FROM comp m JOIN vkeys k ON m.tenant = k.tenant
      |  AND m.day = k.day AND m.seq = k.seq
      |WHERE k.vk % 50 = 0
      |ORDER BY vk, btenant, bday, bseq, col""".stripMargin

  // C41 — TOKEN-RANGE scan (round 7, second half): Cassandra's
  // full-scan/export unit — `WHERE token(pk) >= ? AND token(pk) <= ?`,
  // a nodetool repair range, a Spark-Cassandra-connector input split.
  // The `tokenRange` read option seeds the scan's physical token
  // bounds, so Summary/manifest pruning, sparse-index narrowing and
  // the readers' exact range checks all apply before the merge (which
  // the restriction commutes with: every cell of a partition shares
  // its token). Identity tokens here, so the oracle is a pk range.
  private def tokenRangeScan(s: SparkSession, d: String): DataFrame =
    CellSnapshots.readTokenRange(s, d, 20, 40)
      .orderBy(col("pk"), col("ck"), col("col"))

  private val tokenRangeSql = cte +
    """SELECT pk, ck, col, value, wt FROM merged
      |WHERE pk BETWEEN 20 AND 40
      |ORDER BY pk, ck, col""".stripMargin

  // C41b — ring-split coverage: the union of all 4 contiguous ring
  // splits aggregated per column must equal the full reconciled
  // table's aggregate — splits are disjoint (no double counts) and
  // collectively exhaustive (no gaps), the invariant a parallel
  // full-table export rides on.
  private def tokenSplitUnion(s: SparkSession, d: String): DataFrame =
    (0 until 4).map(i => CellSnapshots.readTokenSplit(s, d, 4, i))
      .reduce(_ unionAll _)
      .groupBy(col("col"))
      .agg(count(lit(1)).as("n_cells"), sum(col("value")).as("sum_value"))
      .orderBy(col("col"))

  private val tokenSplitUnionSql = cte +
    """SELECT col, CAST(COUNT(*) AS BIGINT) AS n_cells,
      |  CAST(SUM(value) AS BIGINT) AS sum_value
      |FROM merged GROUP BY col ORDER BY col""".stripMargin

  // C42 — anti-entropy REPAIR (round 7): two divergent replicas (A is
  // missing a contiguous range of 'price' cells, B a range of 'qty'
  // cells) converge after CellMaintenance.repair streams each side the
  // cells it lacks — Merkle-leaf diff (C23's digests), range-pruned
  // re-read of ONLY the mismatched buckets, cell-level EXCEPT, one
  // appended flush per direction. The repaired replica B reconciles to
  // the plain full-table merge.
  private def repairRead(s: SparkSession, d: String): DataFrame = {
    val (_, dirB) = CellSnapshots.ensureRepaired(s, d)
    s.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(dirB)
      .filter(col("pk") % 10 === 3)
      .orderBy(col("pk"), col("ck"), col("col"))
  }

  private val repairReadSql = cte +
    """SELECT pk, ck, col, value, wt FROM merged WHERE pk % 10 = 3
      |ORDER BY pk, ck, col""".stripMargin

  // C42b — the Merkle-leaf diff itself: per-1024-pk-bucket digests of
  // both replicas, returning only buckets whose cell sets differ. The
  // oracle recomputes set difference per bucket directly.
  private def repairDiff(s: SparkSession, d: String): DataFrame = {
    val (dirA, dirB) = CellSnapshots.ensureReplicas(s, d)
    graft.sources.CellMaintenance.rangeDiff(s, dirA, dirB)
      .orderBy(col("bucket"))
  }

  private val repairDiffSql = cte +
    """, rep_a AS (SELECT * FROM cells
      |    WHERE NOT (col = 'price' AND pk >= 1000 AND pk < 3000)),
      |rep_b AS (SELECT * FROM cells
      |    WHERE NOT (col = 'qty' AND pk >= 4096 AND pk < 6144)),
      |rep_d AS (
      |  SELECT CAST(pk // 1024 AS BIGINT) AS bucket
      |  FROM (SELECT * FROM rep_a EXCEPT SELECT * FROM rep_b)
      |  UNION ALL
      |  SELECT CAST(pk // 1024 AS BIGINT) AS bucket
      |  FROM (SELECT * FROM rep_b EXCEPT SELECT * FROM rep_a)),
      |rep_buckets AS (SELECT DISTINCT bucket FROM rep_d),
      |rep_acnt AS (SELECT CAST(pk // 1024 AS BIGINT) AS bucket,
      |    count(*) AS ca FROM rep_a GROUP BY 1),
      |rep_bcnt AS (SELECT CAST(pk // 1024 AS BIGINT) AS bucket,
      |    count(*) AS cb FROM rep_b GROUP BY 1)
      |SELECT k.bucket AS bucket,
      |  CASE WHEN a.ca IS NULL THEN 'missing_a'
      |       WHEN b.cb IS NULL THEN 'missing_b'
      |       ELSE 'mismatch' END AS status
      |FROM rep_buckets k
      |LEFT JOIN rep_acnt a ON k.bucket = a.bucket
      |LEFT JOIN rep_bcnt b ON k.bucket = b.bucket
      |ORDER BY bucket""".stripMargin

  // C43 — snapshot isolation (nodetool snapshot): the table was
  // snapshotted, then rewritten AND major-compacted (every original
  // file name deleted); the snapshot's hard links pin the inodes, so
  // reading the snapshot path reconciles to the ORIGINAL merged view,
  // untouched by the post-snapshot writes.
  private def snapshotRead(s: SparkSession, d: String): DataFrame =
    s.read.format("graft.sources.CellSource")
      .option("reconcile", "true")
      .load(CellSnapshots.ensureSnapshotted(s, d))
      .filter(col("pk") % 10 === 7)
      .orderBy(col("pk"), col("ck"), col("col"))

  private val snapshotReadSql = cte +
    """SELECT pk, ck, col, value, wt FROM merged WHERE pk % 10 = 7
      |ORDER BY pk, ck, col""".stripMargin

  // C44 — value zone maps (CEL9): a pushed value range prunes
  // compression chunks on the PLAIN scan from header metadata alone
  // (the parquet-stats story for cell data); the raw (all-versions)
  // relation is the oracle's `cells` set under the same predicate.
  private def valueZoneScan(s: SparkSession, d: String): DataFrame =
    src(s, d)
      .filter(col("value") >= 400000L && col("value") <= 600000L)
      .groupBy(col("col"))
      .agg(count(lit(1)).as("n_cells"), sum(col("value")).as("sum_value"))
      .orderBy(col("col"))

  private val valueZoneSql = cte +
    """SELECT col, CAST(COUNT(*) AS BIGINT) AS n_cells,
      |  CAST(SUM(value) AS BIGINT) AS sum_value
      |FROM cells WHERE value BETWEEN 400000 AND 600000
      |GROUP BY col ORDER BY col""".stripMargin

  // C42c — TYPED anti-entropy repair: the same divergent-replica
  // convergence as C42, but on a hashed STRING key — Merkle leaves
  // are token buckets (`_token >> shift` via the withToken scan
  // column), mismatched runs re-read through `tokenRange`, and the
  // deltas append through the typed write path. Repaired replica B
  // reconciles to the full string-keyed merge.
  private def typedRepairRead(s: SparkSession, d: String): DataFrame = {
    val (_, dirB) = CellSnapshots.ensureKeyedRepaired(s, d)
    s.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(dirB)
      .filter(expr("CAST(substring(user, 6) AS BIGINT) % 10 = 3"))
      .orderBy(col("user"), col("ck"), col("col"))
  }

  private val typedRepairReadSql = cte +
    """SELECT 'user-' || pk AS user, ck, col, value, wt FROM merged
      |WHERE pk % 10 = 3
      |ORDER BY user, ck, col""".stripMargin

  // C28b — PER-CELL TTL (CEL10, CQL `USING TTL`): qty cells of
  // pk % 11 == 0 were written with their own relative ttl (stored as
  // per-record absolute expiry — no `!ttl*` marker anywhere), and the
  // reconciling merge drops expired winners at queryTime.
  private def cellTtlScan(s: SparkSession, d: String): DataFrame =
    CellSnapshots.readCellUnexpired(s, d)
      .groupBy(col("col"))
      .agg(count(lit(1)).as("n_live"), sum(col("value")).as("sum_value"))
      .orderBy(col("col"))

  private val cellTtlSql = cte +
    s"""SELECT col, CAST(COUNT(*) AS BIGINT) AS n_live,
       |  CAST(SUM(value) AS BIGINT) AS sum_value
       |FROM merged
       |WHERE NOT (pk % 11 = 0 AND col = 'qty'
       |  AND wt + ${CM.TtlMs} < ${CM.QueryTimeMs})
       |GROUP BY col ORDER BY col""".stripMargin

  // C28c — per-cell TTL on a TYPED (CEL11) table: the same `USING
  // TTL` grants as C28b, but on the string-keyed layout — records
  // append expiry after wt in the typed format, and the TYPED merge
  // cursor applies the effective-expiry rule (per-cell overrides the
  // partition default). Closes CEL10's default-layout-only
  // restriction; same oracle shape as C28b over the string-keyed
  // merged view.
  private def typedTtlScan(s: SparkSession, d: String): DataFrame =
    CellSnapshots.readKeyedUnexpired(s, d)
      .groupBy(col("col"))
      .agg(count(lit(1)).as("n_live"), sum(col("value")).as("sum_value"))
      .orderBy(col("col"))

  private val typedTtlSql = cellTtlSql

  // C58 — dropped-column timestamps (Cassandra's `ALTER TABLE DROP`):
  // cells of a dropped column written BEFORE the drop are invisible
  // to reconciled reads forever; a re-added column sees only newer
  // writes. The declared read drops 'qty' at the model query time —
  // base-era qty cells vanish, the post-drop rewrites survive, price
  // is untouched. Raw scans keep serving dropped data (sstabledump
  // semantics) and compaction purges it (tested in SourceSpec).
  private def droppedColumnsScan(s: SparkSession, d: String): DataFrame =
    s.read.format("graft.sources.CellSource")
      .option("reconcile", "true")
      .option("droppedColumns", s"qty:${CM.QueryTimeMs}")
      .load(CellSnapshots.ensure(s, d))
      .filter(col("pk") % 10 === 0)
      .orderBy(col("pk"), col("ck"), col("col"))

  private val droppedColumnsSql = cte +
    s"""SELECT pk, ck, col, value, wt FROM merged
       |WHERE pk % 10 = 0
       |  AND NOT (col = 'qty' AND wt <= ${CM.QueryTimeMs})
       |ORDER BY pk, ck, col""".stripMargin

  // C59 — frozen UDT: qty cell versions packed into `(q bigint,
  // t string)` blobs (graft_udt_pack) and written as a BINARY cell
  // table — Cassandra's frozen-UDT storage model (one blob,
  // byte-compared by the merge; only the schema layer knows fields).
  // The reconciling scan LWW-merges the blobs; unpacking the winners
  // must reproduce the merged oracle's fields — pack∘unpack identity
  // AND blob-level LWW checked in one query.
  private def frozenUdtScan(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    s.read.format("graft.sources.CellSource")
      .option("reconcile", "true")
      .load(CellSnapshots.ensureUdt(s, d))
      .filter(col("pk") % 10 === 0)
      .select(col("pk"), col("ck"),
        expr("graft_udt_unpack('q bigint,t string', value)").as("u"),
        col("wt"))
      .select(col("pk"), col("ck"), col("u.q").as("q"),
        col("u.t").as("tag"), col("wt"))
      .orderBy(col("pk"), col("ck"))
  }

  private val frozenUdtSql = cte +
    """SELECT pk, ck, value AS q, 'q:' || pk AS tag, wt FROM merged
      |WHERE col = 'qty' AND pk % 10 = 0
      |ORDER BY pk, ck""".stripMargin


  // C59b — frozen UDTs through the CQL front door (r12): CREATE TYPE
  // registers the per-keyspace field layout, `value frozen<type>`
  // declares a blob-valued table (C59's storage rule — LWW
  // byte-compares the ONE packed blob; only the schema layer knows
  // fields), INSERT/UPDATE pack UDT literals at parse time, SELECT
  // `c.f` unpacks fields (unset fields are null — Cassandra's
  // unset-field rule), and tombstones shadow blobs like any cell.
  private def udtCqlLifecycle(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_udt"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-udt-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    cq("CREATE KEYSPACE IF NOT EXISTS ks")
    cq("CREATE TYPE IF NOT EXISTS ks.item (q bigint, t text)")
    cq("CREATE TABLE IF NOT EXISTS ks.orders (pk bigint, ck int, " +
      "col text, value frozen<item>, wt bigint)")
    cq("TRUNCATE ks.orders")
    cq("INSERT INTO ks.orders (pk, ck, qty) VALUES (1, 1, " +
      "{q: 10, t: 'a'})")
    cq("INSERT INTO ks.orders (pk, ck, qty) VALUES (1, 1, " +
      "{q: 11, t: 'b'})") // LWW overwrites the whole blob
    cq("INSERT INTO ks.orders (pk, ck, qty) VALUES (2, 1, {q: 20})")
    cq("UPDATE ks.orders SET qty = {q: 30, t: 'c'} " +
      "WHERE pk = 3 AND ck = 1")
    cq("INSERT INTO ks.orders (pk, ck, qty) VALUES (4, 1, " +
      "{q: 40, t: 'd'})")
    cq("DELETE FROM ks.orders WHERE pk = 4 AND ck = 1")
    cq("SELECT pk, ck, qty.q AS q, qty.t AS tag FROM ks.orders " +
      "ORDER BY pk, ck")
  }

  private val udtCqlSql =
    """SELECT CAST(pk AS BIGINT) AS pk, CAST(ck AS INT) AS ck,
      |  CAST(q AS BIGINT) AS q, tag
      |FROM (VALUES (1, 1, 11, 'b'), (2, 1, 20, NULL),
      |  (3, 1, 30, 'c')) AS t(pk, ck, q, tag)
      |ORDER BY pk, ck""".stripMargin

  // C59d — UNFROZEN UDTs (r13): `value item` without frozen<> stores
  // one cell PER FIELD (`qty.q`, `qty.t` — Cassandra 3.x's non-frozen
  // layout, which is exactly this engine's element-per-cell shape):
  // per-field UPDATE patches one cell and leaves the others, a
  // whole-value write overwrites every declared field (unset fields
  // tombstone), DELETE c.f drops one field, DELETE c drops them all,
  // and the SELECT pivots the live field cells back into the row.
  private def unfrozenUdtLifecycle(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_udt"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-udt-q").toString)
    }
    // ONE buffered script (the r12 memtable analog — r14: this ran
    // statement-per-statement and paid one flush file each; buffered,
    // the 11 writes land as one flush and the floor halves)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TYPE IF NOT EXISTS ks.item2 (q bigint, t text);
        |CREATE TABLE IF NOT EXISTS ks.orders2 (pk bigint, ck int,
        |  col text, value item2, wt bigint);
        |TRUNCATE ks.orders2;
        |INSERT INTO ks.orders2 (pk, ck, qty) VALUES (1, 1,
        |  {q: 10, t: 'a'});
        |UPDATE ks.orders2 SET qty.q = 11 WHERE pk = 1 AND ck = 1;
        |UPDATE ks.orders2 SET qty.t = 'z' WHERE pk = 2 AND ck = 1;
        |INSERT INTO ks.orders2 (pk, ck, qty) VALUES (3, 1,
        |  {q: 30, t: 'c'});
        |UPDATE ks.orders2 SET qty = {q: 31} WHERE pk = 3 AND ck = 1;
        |INSERT INTO ks.orders2 (pk, ck, qty) VALUES (4, 1,
        |  {q: 40, t: 'd'});
        |DELETE qty.t FROM ks.orders2 WHERE pk = 4 AND ck = 1;
        |INSERT INTO ks.orders2 (pk, ck, qty) VALUES (5, 1,
        |  {q: 50, t: 'e'});
        |DELETE qty FROM ks.orders2 WHERE pk = 5 AND ck = 1;
        |INSERT INTO ks.orders2 (pk, ck, qty) VALUES (6, 1,
        |  {q: 60, t: 'f'});
        |DELETE FROM ks.orders2 WHERE pk = 6 AND ck = 1;
        |SELECT pk, ck, qty.q AS q, qty.t AS tag FROM ks.orders2
        |  ORDER BY pk, ck""".stripMargin, cat)
  }

  private val unfrozenUdtSql =
    """SELECT CAST(pk AS BIGINT) AS pk, CAST(ck AS INT) AS ck,
      |  CAST(q AS BIGINT) AS q, tag
      |FROM (VALUES (1, 1, 11, 'a'), (2, 1, NULL, 'z'),
      |  (3, 1, 31, NULL), (4, 1, 40, NULL)) AS t(pk, ck, q, tag)
      |ORDER BY pk, ck""".stripMargin

  // C59e — UNFROZEN UDTs over TYPED layouts (r14): the C59d
  // field-per-cell model generalized to named key parts — per-field
  // patches, whole-value overwrites with unset-field tombstones,
  // field/column/row deletes, and the pivot grouping by the table's
  // own key layout instead of (pk, ck).
  private def typedUnfrozenUdtLifecycle(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_udt_te"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-udt-te-q").toString)
    }
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TYPE IF NOT EXISTS ks.item3 (q bigint, t text);
        |CREATE TABLE IF NOT EXISTS ks.carts (user text, ck int,
        |  col text, value item3, wt bigint,
        |  PRIMARY KEY ((user), ck));
        |TRUNCATE ks.carts;
        |INSERT INTO ks.carts (user, ck, v) VALUES ('u1', 1,
        |  {q: 10, t: 'a'});
        |UPDATE ks.carts SET v.q = 11 WHERE user = 'u1' AND ck = 1;
        |UPDATE ks.carts SET v.t = 'z' WHERE user = 'u2' AND ck = 1;
        |INSERT INTO ks.carts (user, ck, v) VALUES ('u3', 1,
        |  {q: 30, t: 'c'});
        |UPDATE ks.carts SET v = {q: 31} WHERE user = 'u3' AND ck = 1;
        |INSERT INTO ks.carts (user, ck, v) VALUES ('u4', 1,
        |  {q: 40, t: 'd'});
        |DELETE v.t FROM ks.carts WHERE user = 'u4' AND ck = 1;
        |INSERT INTO ks.carts (user, ck, v) VALUES ('u5', 1,
        |  {q: 50, t: 'e'});
        |DELETE v FROM ks.carts WHERE user = 'u5' AND ck = 1;
        |INSERT INTO ks.carts (user, ck, v) VALUES ('u6', 1,
        |  {q: 60, t: 'f'});
        |DELETE FROM ks.carts WHERE user = 'u6' AND ck = 1;
        |SELECT user, ck, v.q AS q, v.t AS tag FROM ks.carts
        |  ORDER BY user, ck""".stripMargin, cat)
  }

  private val typedUnfrozenUdtSql =
    """SELECT u AS "user", CAST(ck AS INT) AS ck,
      |  CAST(q AS BIGINT) AS q, tag
      |FROM (VALUES ('u1', 1, 11, 'a'), ('u2', 1, NULL, 'z'),
      |  ('u3', 1, 31, NULL), ('u4', 1, 40, NULL)) AS t(u, ck, q, tag)
      |ORDER BY u, ck""".stripMargin

  // C61 — range movement (bootstrap/decommission): tokens [2000,5999]
  // streamed from node A to a fresh node B, then cleaned from A
  // (stream-first ordering — a crash leaves over-ownership, never
  // under-ownership). The ring as a whole still holds every cell
  // exactly once: the UNION of both nodes' reconciled reads must
  // equal the plain merged view, which is exactly what this query
  // states against C4's oracle.
  private def rangeMovementRead(s: SparkSession, d: String): DataFrame = {
    val (dirA, dirB) = CellSnapshots.ensureMoved(s, d)
    def rec(p: String) = s.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(p)
    rec(dirA).unionAll(rec(dirB))
      .filter(col("pk") % 10 === 0)
      .orderBy(col("pk"), col("ck"), col("col"))
  }

  private val rangeMovementSql = cte +
    """SELECT pk, ck, col, value, wt FROM merged
      |WHERE pk % 10 = 0
      |ORDER BY pk, ck, col""".stripMargin

  // C47 — QUORUM read: the reconcile merge across REPLICA
  // directories (Cassandra's multi-replica data read — every replica
  // contributes its flushes to one k-way LWW merge, folding
  // divergence at read time without writing anything). The fixture
  // replicas are DIVERGENT (each missing a disjoint range), so
  // neither alone reconciles to `merged` — the quorum read must.
  private def quorumRead(s: SparkSession, d: String): DataFrame = {
    val (dirA, dirB) = CellSnapshots.ensureReplicas(s, d)
    s.read.format("graft.sources.CellSource")
      .option("reconcile", "true").option("replicas", dirB)
      .load(dirA)
      .filter(col("pk") % 10 === 9)
      .orderBy(col("pk"), col("ck"), col("col"))
  }

  private val quorumReadSql = cte +
    """SELECT pk, ck, col, value, wt FROM merged WHERE pk % 10 = 9
      |ORDER BY pk, ck, col""".stripMargin

  // C52 — paging state: the CQL page loop (SELECT ... LIMIT n, then
  // resume from the returned paging state). Three pages of the
  // reconciled view are fetched through `pageAfter` cursors — each
  // page is an ascending-natural-prefix TopN (pushed caps on every
  // reader), its last cell becomes the next page's cursor, and the
  // cursor pk doubles as a pushed lower bound so deep pages never
  // open pre-cursor files. The stitched pages must equal the merged
  // view's first 3·n cells exactly.
  private val PageRows = 1200
  private def pagedScan(s: SparkSession, d: String): DataFrame = {
    val dir = CellSnapshots.ensure(s, d)
    def page(after: Option[(Long, Int, String)]): DataFrame = {
      val r = s.read.format("graft.sources.CellSource")
        .option("reconcile", "true")
      after.fold(r)(a =>
        r.option("pageAfter", s"${a._1}:${a._2}:${a._3}"))
        .load(dir)
        .orderBy(col("pk"), col("ck"), col("col")).limit(PageRows)
    }
    var after: Option[(Long, Int, String)] = None
    val pages = (0 until 3).map { i =>
      val p = page(after)
      if (i < 2) {
        val last = p.orderBy(col("pk").desc, col("ck").desc,
          col("col").desc).select("pk", "ck", "col").head()
        after = Some((last.getLong(0), last.getInt(1), last.getString(2)))
      }
      p
    }
    pages.reduce(_ unionAll _).orderBy(col("pk"), col("ck"), col("col"))
  }

  private val pagedScanSql = cte +
    s"""SELECT pk, ck, col, value, wt FROM merged
       |ORDER BY pk, ck, col LIMIT ${3 * PageRows}""".stripMargin

  // C52b — TYPED paging: the CQL paging-state contract on a typed
  // (CEL6) table — per-part cursor options `pageAfter.<part>` +
  // `pageAfter.col`, resumed in the stream's (token, key) order by
  // the typed paged cursor, cursor token seeding the scan's pushed
  // lower bound. Declared over the IDENTITY-token typed fixture
  // (single long pk part: token order == pk order), so the stitched
  // pages share C52's merged-prefix oracle; hashed layouts page the
  // same way and are covered in SourceSpec (order is token order,
  // which DuckDB cannot reproduce).
  private def typedPagedScan(s: SparkSession, d: String): DataFrame = {
    val dir = CellSnapshots.ensureKeyedLong(s, d)
    def page(after: Option[(Long, Int, String)]): DataFrame = {
      val r = s.read.format("graft.sources.CellSource")
        .option("reconcile", "true")
      after.fold(r)(a => r
        .option("pageAfter.id", a._1.toString)
        .option("pageAfter.seq", a._2.toString)
        .option("pageAfter.col", a._3))
        .load(dir)
        .orderBy(col("id"), col("seq"), col("col")).limit(PageRows)
    }
    var after: Option[(Long, Int, String)] = None
    val pages = (0 until 3).map { i =>
      val p = page(after)
      if (i < 2) {
        val last = p.orderBy(col("id").desc, col("seq").desc,
          col("col").desc).select("id", "seq", "col").head()
        after = Some((last.getLong(0), last.getInt(1), last.getString(2)))
      }
      p
    }
    pages.reduce(_ unionAll _).orderBy(col("id"), col("seq"), col("col"))
  }

  private val typedPagedScanSql = cte +
    s"""SELECT pk AS id, ck AS seq, col, value, wt FROM merged
       |ORDER BY id, seq, col LIMIT ${3 * PageRows}""".stripMargin

  // C36c — COMPOSITE partition key: `PRIMARY KEY ((tenant, day),
  // seq)` — the real-world Cassandra shape CEL6 was built for. Both
  // parts hash into one token; routing needs every part bound
  // (pruning covered in SourceSpec), the k-way merge compares by the
  // composite comparator, and the reconciled view must reproduce the
  // merged oracle re-keyed through the same (tenant, day) derivation.
  // The point probe (both parts bound by equality) is included so the
  // declared query also exercises the composite multiget shape.
  private def compositeKeyScan(s: SparkSession, d: String): DataFrame = {
    val dir = CellSnapshots.ensureComposite(s, d)
    val full = s.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(dir)
    full.filter(expr("day % 5 = 0"))
      .orderBy(col("tenant"), col("day"), col("seq"), col("col"))
  }

  private val compositeKeySql = cte +
    """SELECT 't' || (pk % 8) AS tenant, pk // 8 AS day, ck AS seq,
      |  col, value, wt
      |FROM merged WHERE (pk // 8) % 5 = 0
      |ORDER BY tenant, day, seq, col""".stripMargin

  // C8c — IN on a COMPOSITE partition key (r11): Cassandra allows IN
  // on any partition-key part; with the other parts bound by equality
  // the cartesian of candidate keys hashes to k tokens — the
  // composite multiget (per-token Summary/bloom file pruning, k point
  // reads; SourceSpec asserts the split pruning). Served through the
  // CQL front door, key-served under the strict guard (no ALLOW
  // FILTERING), exact residual above the scan.
  private def compositeMultiget(s: SparkSession, d: String): DataFrame = {
    val dir = CellSnapshots.ensureComposite(s, d)
    graft.cql.Cql.execute(s,
      s"SELECT tenant, day, seq, col, value FROM $dir " +
        "WHERE tenant = 't1' AND day IN (1, 3, 5, 7) " +
        "ORDER BY day, seq, col")
  }

  private val compositeMultigetSql = cte +
    """SELECT 't' || (pk % 8) AS tenant, pk // 8 AS day, ck AS seq,
      |  col, value
      |FROM merged WHERE pk % 8 = 1 AND pk // 8 IN (1, 3, 5, 7)
      |ORDER BY day, seq, col""".stripMargin

  // C64b — CQL CONTAINS / CONTAINS KEY (r11): collections are
  // element-per-cell (C11b), so containment is a CELL filter — an
  // element is a (col, value) cell, a map entry's key is its col
  // name. The facade serves both under ALLOW FILTERING (or a
  // collection 2i for CONTAINS, which routes the probe through the
  // index since index entries ARE element values). The result
  // relation surfaces the matching element cells, whose keys are the
  // rows Cassandra returns.
  private def containsLifecycle(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_cont"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-cont-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    // writes as one SCRIPT (buffered flush); the two probe forms run
    // against the flushed table afterwards
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.t (pk bigint, ck int,
        |  col text, value bigint, wt bigint);
        |TRUNCATE ks.t;
        |UPDATE ks.t SET tags = tags + [5, 7] WHERE pk = 1;
        |UPDATE ks.t SET tags = tags + [7] WHERE pk = 2;
        |UPDATE ks.t SET m['color'] = 4 WHERE pk = 4 AND ck = 1"""
        .stripMargin, cat)
    cq("SELECT pk, ck, value FROM ks.t WHERE tags CONTAINS 7 " +
        "ALLOW FILTERING")
      .unionAll(cq("SELECT pk, ck, value FROM ks.t " +
        "WHERE m CONTAINS KEY 'color' ALLOW FILTERING"))
      .orderBy("pk", "ck")
  }

  private val containsSql =
    """SELECT CAST(pk AS BIGINT) AS pk, CAST(ck AS INT) AS ck,
      |  CAST(v AS BIGINT) AS value
      |FROM (VALUES (1, 2, 7), (2, 1, 7), (4, 1, 4)) AS t(pk, ck, v)
      |ORDER BY pk, ck""".stripMargin


  // C64c — collection secondary indexes (r12): `CREATE INDEX ON t
  // (values(m))` / `(keys(m))` build C18 entry tables keyed by the
  // element value / entry key (elements and entries ARE cells in the
  // C11-C13 encoding, so the index build is a projection of them),
  // and CONTAINS / CONTAINS KEY serve key-routed WITHOUT ALLOW
  // FILTERING — Cassandra's collection-2i contract. The hit set
  // composes into the base read as a pk multiget; the predicate
  // re-applies on the base cells (index-then-fetch-then-filter).
  private def containsIndexed(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_c2i"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-c2i-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    // writes as one SCRIPT (buffered; CREATE INDEX flushes its base
    // before building); probes run against the flushed tables
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.t (pk bigint, ck int,
        |  col text, value bigint, wt bigint);
        |TRUNCATE ks.t;
        |UPDATE ks.t SET tags = tags + [5, 7] WHERE pk = 1;
        |UPDATE ks.t SET tags = tags + [7] WHERE pk = 2;
        |CREATE INDEX IF NOT EXISTS ON ks.t (values(tags));
        |CREATE TABLE IF NOT EXISTS ks.m (pk bigint, ck int,
        |  col text, value bigint, wt bigint);
        |TRUNCATE ks.m;
        |UPDATE ks.m SET m['color'] = 4 WHERE pk = 4 AND ck = 1;
        |UPDATE ks.m SET m['size'] = 9 WHERE pk = 5 AND ck = 1;
        |CREATE INDEX IF NOT EXISTS ON ks.m (keys(m));
        |UPDATE ks.m SET m['color'] = 6 WHERE pk = 6 AND ck = 1"""
        .stripMargin, cat)
    cq("SELECT pk, ck, value FROM ks.t WHERE tags CONTAINS 7")
      .unionAll(cq("SELECT pk, ck, value FROM ks.m " +
        "WHERE m CONTAINS KEY 'color'"))
      .orderBy("pk", "ck")
  }

  private val containsIndexedSql =
    """SELECT CAST(pk AS BIGINT) AS pk, CAST(ck AS INT) AS ck,
      |  CAST(v AS BIGINT) AS value
      |FROM (VALUES (1, 2, 7), (2, 1, 7), (4, 1, 4), (6, 1, 6))
      |  AS t(pk, ck, v)
      |ORDER BY pk, ck""".stripMargin

  // C65j — ck IN over typed layouts (r11): the clustering multiget on
  // named clustering parts — pushed as the BOUNDING slice [min, max]
  // of the named values (CEL8 zone maps prune chunks, the typed merge
  // cursor skips out-of-slice rows), exact isin residual above the
  // scan; key-served under the strict guard. IN on the LAST part of a
  // multi-part clustering key with the prior parts bound is accepted
  // the same way (Cassandra's rule).
  private def typedCkIn(s: SparkSession, d: String): DataFrame = {
    val dir = CellSnapshots.ensureComposite(s, d)
    graft.cql.Cql.execute(s,
      s"SELECT tenant, day, seq, col, value FROM $dir " +
        "WHERE tenant = 't1' AND day = 0 AND seq IN (3, 7) " +
        "ORDER BY seq, col")
  }

  private val typedCkInSql = cte +
    """SELECT 't' || (pk % 8) AS tenant, pk // 8 AS day, ck AS seq,
      |  col, value
      |FROM merged WHERE pk % 8 = 1 AND pk // 8 = 0 AND ck IN (3, 7)
      |ORDER BY seq, col""".stripMargin

  // C49 — GROUP BY pk pushed COMPLETELY into the reconcile scan
  // (CQL's `SELECT pk, count(*) ... GROUP BY pk`, Cassandra 3.10
  // read-path aggregation): reconcile partitions are disjoint pk
  // ranges, so every group row is final inside its one task — the
  // whole query plans with ZERO exchange and no Spark-side
  // re-aggregation (CellGroupAggScan; plan asserted in SourceSpec).
  // Per-partition live-cell counts and last-modified wt.
  private def partitionStats(s: SparkSession, d: String): DataFrame =
    CellSnapshots.readReconciled(s, d)
      .groupBy(col("pk"))
      .agg(expr("count(*)").as("n_cells"), max(col("wt")).as("last_wt"))
      .orderBy(col("pk"))

  // C49b — grouped pushdown lifted to TYPED keys: `GROUP BY user`
  // (the full partition key of the string-keyed table) folds inside
  // the typed reconcile task via the typed group-agg reader — a pk's
  // versions and its group all meet inside its one token range, so
  // the plan stays zero-exchange exactly as on the default layout.
  private def typedPartitionStats(s: SparkSession, d: String): DataFrame =
    s.read.format("graft.sources.CellSource")
      .option("reconcile", "true")
      .load(CellSnapshots.ensureKeyed(s, d))
      .groupBy(col("user"))
      .agg(expr("count(*)").as("n_cells"), max(col("wt")).as("last_wt"))
      .orderBy(col("user"))

  private val typedPartitionStatsSql = cte +
    """SELECT 'user-' || pk AS user,
      |  CAST(COUNT(*) AS BIGINT) AS n_cells, MAX(wt) AS last_wt
      |FROM merged GROUP BY 1 ORDER BY user""".stripMargin

  private val partitionStatsSql = cte +
    """SELECT pk, CAST(COUNT(*) AS BIGINT) AS n_cells,
      |  MAX(wt) AS last_wt
      |FROM merged GROUP BY pk ORDER BY pk""".stripMargin

  // C63 — CQL's `SELECT JSON` (Cassandra 2.2+): each reconciled row
  // rendered as a one-column JSON document, key order = column order.
  // Pure projection over the merged read — the JSON encode is
  // codegen'd (to_json), map-only, no extra shuffle.
  private def selectJson(s: SparkSession, d: String): DataFrame =
    CellSnapshots.readReconciled(s, d)
      .filter(col("pk") % 25 === 0)
      .select(to_json(struct(col("pk"), col("ck"), col("col"),
        col("value"), col("wt"))).as("json"),
        col("pk"), col("ck"), col("col"))
      .orderBy(col("pk"), col("ck"), col("col"))

  private val selectJsonSql = cte +
    """SELECT to_json(struct_pack(pk := pk, ck := ck, col := col,
      |    value := value, wt := wt)) AS json,
      |  pk, ck, col
      |FROM merged WHERE pk % 25 = 0
      |ORDER BY pk, ck, col""".stripMargin

  // C64 — CQL `CONTAINS` through the secondary index: collections are
  // element-per-cell (C11b), so the SAME inverted value→pk index that
  // serves equality (C18b) answers `WHERE list_col CONTAINS v` — the
  // hit set is every partition owning ANY element cell = v, read
  // through the index's point-scan machinery, and the base re-read
  // reassembles the full list and re-applies the predicate
  // (Cassandra's base-row re-check; index false positives drop here).
  private def containsIndex(s: SparkSession, d: String): DataFrame = {
    val dir = CellSnapshots.ensure(s, d)
    val idx = CellSnapshots.ensureIndexed(s, d)
    val hits = graft.sources.CellIndex.lookupBase(s, dir, idx, 1200L)
    CM.reassembleList(hits)
      .filter(array_contains(col("elems"), lit(1200L)))
      .select(col("pk"),
        array_join(col("elems").cast("array<string>"), "|").as("elems"))
      .orderBy(col("pk"))
  }

  private val containsIndexSql = cte +
    """SELECT pk,
      |  array_to_string(list(value ORDER BY ck, value), '|') AS elems
      |FROM merged WHERE col = 'qty'
      |GROUP BY pk
      |HAVING sum(CASE WHEN value = 1200 THEN 1 ELSE 0 END) > 0
      |ORDER BY pk""".stripMargin

  // C65 — the CQL front door end-to-end: a CQL SELECT string parsed
  // and executed through the reconciled read (key-range pushdown, no
  // ALLOW FILTERING needed — the predicate is key-served, so the
  // strictCql guard stays quiet), against the same merged oracle.
  private def cqlSelect(s: SparkSession, d: String): DataFrame = {
    val dir = CellSnapshots.ensure(s, d)
    graft.cql.Cql.execute(s,
      s"SELECT pk, ck, col, value, wt FROM $dir " +
        "WHERE pk >= 1000 AND pk <= 2000 " +
        "ORDER BY pk, ck, col LIMIT 500")
  }

  private val cqlSelectSql = cte +
    """SELECT pk, ck, col, value, wt FROM merged
      |WHERE pk >= 1000 AND pk <= 2000
      |ORDER BY pk, ck, col LIMIT 500""".stripMargin

  // C65h — CQL PREPARED statements (bind markers) end-to-end: the
  // driver wire-protocol form (every real client session prepares
  // once and binds per execution). The Prepared object renders each
  // bound value as a typed literal, so the bound execution must equal
  // the literal statement — which the oracle expresses directly.
  private def cqlPrepared(s: SparkSession, d: String): DataFrame = {
    val dir = CellSnapshots.ensure(s, d)
    val p = graft.cql.Cql.prepare(
      s"SELECT pk, ck, col, value, wt FROM $dir " +
        "WHERE pk >= ? AND pk <= ? ORDER BY pk, ck, col LIMIT ?")
    graft.cql.Cql.execute(s, p.bind(500L, 1500L, 400))
  }

  private val cqlPreparedSql = cte +
    """SELECT pk, ck, col, value, wt FROM merged
      |WHERE pk >= 500 AND pk <= 1500
      |ORDER BY pk, ck, col LIMIT 400""".stripMargin

  // C65i — CQL ck IN (the clustering multiget) through the front
  // door: the scan pushes the bounding ck slice [min, max] at the
  // merge cursor and the exact isin residual drops the rows between
  // the named values — key-served, no ALLOW FILTERING.
  private def cqlCkIn(s: SparkSession, d: String): DataFrame = {
    val dir = CellSnapshots.ensure(s, d)
    graft.cql.Cql.execute(s,
      s"SELECT pk, ck, col, value FROM $dir " +
        "WHERE pk >= 1 AND pk <= 200 AND ck IN (1, 3, 5) " +
        "ORDER BY pk, ck, col")
  }

  private val cqlCkInSql = cte +
    """SELECT pk, ck, col, value FROM merged
      |WHERE pk BETWEEN 1 AND 200 AND ck IN (1, 3, 5)
      |ORDER BY pk, ck, col""".stripMargin

  // C65b — CQL GROUP BY through the front door: lands on the C49
  // zero-exchange grouped pushdown (CqlSpec asserts the plan).
  private def cqlGroup(s: SparkSession, d: String): DataFrame = {
    val dir = CellSnapshots.ensure(s, d)
    graft.cql.Cql.execute(s,
      s"SELECT pk, count(*) AS n_cells, max(wt) AS last_wt FROM $dir " +
        "GROUP BY pk ORDER BY pk")
  }

  private val cqlGroupSql = cte +
    """SELECT pk, CAST(COUNT(*) AS BIGINT) AS n_cells,
      |  MAX(wt) AS last_wt
      |FROM merged GROUP BY pk ORDER BY pk""".stripMargin

  // C11c — CQL collection WRITE grammar end-to-end: list appends
  // (`tags = tags + [...]`, ck-ordered element cells), set add/remove
  // (`st = st + {..}` / `- {..}`, the remove a `!del:` tombstone per
  // matching element cell), all through the front door, then the
  // reconciled reassembly (C11/C13) of what was written. The oracle
  // is the EXPECTED collections literal — the engine must reproduce
  // them exactly through append ck-claiming, LWW and tombstone
  // shadowing.
  private def cqlCollectionWrite(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files
      .createTempDirectory("cql-coll-q").toString
    graft.cql.Cql.executeScript(s,
      s"""INSERT INTO $dir (pk, ck, qty) VALUES (1, 0, 1);
         |UPDATE $dir SET tags = tags + [10, 11, 12] WHERE pk IN (1, 2, 3);
         |UPDATE $dir SET tags = tags + [13] WHERE pk IN (2, 3);
         |UPDATE $dir SET st = st + {5, 6} WHERE pk IN (1, 2);
         |UPDATE $dir SET st = st - {5} WHERE pk = 2;
         |SELECT pk FROM $dir LIMIT 1""".stripMargin)
    val m = s.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(dir)
    val lst = m.filter(col("col") === "tags")
      .groupBy(col("pk"))
      .agg(array_join(expr("transform(array_sort(" +
        "collect_list(struct(ck, value))), x -> " +
        "cast(x.value as string))"), "|").as("tags"))
    val st = m.filter(col("col") === "st")
      .groupBy(col("pk"))
      .agg(array_join(expr("array_sort(collect_set(value))")
        .cast("array<string>"), "|").as("st"))
    lst.join(st, Seq("pk"), "full_outer").orderBy(col("pk"))
  }

  private val cqlCollectionWriteSql =
    """SELECT CAST(pk AS BIGINT) AS pk, tags, st FROM (VALUES
      |  (1, '10|11|12', '5|6'),
      |  (2, '10|11|12|13', '6'),
      |  (3, '10|11|12|13', CAST(NULL AS VARCHAR))) AS t(pk, tags, st)
      |ORDER BY pk""".stripMargin

  // C11e — index-addressed list operations (r16): `SET l[i] = v`
  // overwrites the i-th LIVE element's cell in place (same ck, fresh
  // wt), `l[i] = null` and `DELETE l[i]` tombstone it — Cassandra's
  // read-before-write list ops. Position order is the ck order of
  // live element cells, so a remove SHIFTS later indexes down
  // (exercised: after deleting index 0, the old second element is
  // the new [0] and the follow-up SET lands on it).
  private def listIndexOps(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files
      .createTempDirectory("cql-lidx-q").toString
    graft.cql.Cql.executeScript(s,
      s"""UPDATE $dir SET tags = tags + [10, 11, 12, 13]
         |  WHERE pk IN (1, 2);
         |UPDATE $dir SET tags[1] = 99 WHERE pk = 1;
         |DELETE tags[0] FROM $dir WHERE pk = 1;
         |UPDATE $dir SET tags[0] = 77 WHERE pk = 1;
         |UPDATE $dir SET tags[3] = null WHERE pk = 2;
         |SELECT pk FROM $dir LIMIT 1""".stripMargin)
    val m = s.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(dir)
    m.filter(col("col") === "tags")
      .groupBy(col("pk"))
      .agg(array_join(expr("transform(array_sort(" +
        "collect_list(struct(ck, value))), x -> " +
        "cast(x.value as string))"), "|").as("tags"))
      .orderBy(col("pk"))
  }

  private val listIndexOpsSql =
    """SELECT CAST(pk AS BIGINT) AS pk, tags FROM (VALUES
      |  (1, '77|12|13'),
      |  (2, '10|11|12')) AS t(pk, tags)
      |ORDER BY pk""".stripMargin

  // C11f — whole-collection replace (r16): `l = [..]` / `st = {..}`
  // (and the empty-literal CLEAR) — one element tombstone per live
  // cell plus the new elements at positions above every shadowed ck,
  // the same bounded point-read trade set-remove makes vs Cassandra's
  // read-free complex deletion. pk 2's clear leaves no tags row at
  // all (full_outer keeps its st side).
  private def collectionReplace(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files
      .createTempDirectory("cql-crep-q").toString
    graft.cql.Cql.executeScript(s,
      s"""UPDATE $dir SET tags = tags + [1, 2, 3] WHERE pk IN (1, 2);
         |UPDATE $dir SET st = st + {5, 6} WHERE pk IN (1, 3);
         |UPDATE $dir SET tags = [7, 8] WHERE pk = 1;
         |UPDATE $dir SET tags = [] WHERE pk = 2;
         |UPDATE $dir SET st = {9} WHERE pk = 1;
         |INSERT INTO $dir (pk, ck, qty, tags) VALUES (4, 1, 5, [41, 42]);
         |SELECT pk FROM $dir LIMIT 1""".stripMargin)
    val m = s.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(dir)
    val lst = m.filter(col("col") === "tags")
      .groupBy(col("pk"))
      .agg(array_join(expr("transform(array_sort(" +
        "collect_list(struct(ck, value))), x -> " +
        "cast(x.value as string))"), "|").as("tags"))
    val st = m.filter(col("col") === "st")
      .groupBy(col("pk"))
      .agg(array_join(expr("array_sort(collect_set(value))")
        .cast("array<string>"), "|").as("st"))
    lst.join(st, Seq("pk"), "full_outer").orderBy(col("pk"))
  }

  private val collectionReplaceSql =
    """SELECT CAST(pk AS BIGINT) AS pk, tags, st FROM (VALUES
      |  (1, '7|8', '9'),
      |  (3, CAST(NULL AS VARCHAR), '5|6'),
      |  (4, '41|42', CAST(NULL AS VARCHAR))) AS t(pk, tags, st)
      |ORDER BY pk""".stripMargin

  // C11g — REASSEMBLED collection SELECT (r16): on a DECLARED
  // collection table, naming the column through the front door
  // returns the whole collection per row — Cassandra's own result
  // shape (lists in position order, sets sorted-distinct, maps as
  // the row's entries) — instead of the element-cell relation. The
  // declared query stringifies the arrays for the oracle compare;
  // the front-door values ARE typed arrays/maps.
  private def collectionSelect(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_cselect"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-csel-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.l (pk bigint, ck int, col text,
        |  value list<bigint>, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.s (pk bigint, ck int, col text,
        |  value set<bigint>, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.m (pk bigint, ck int, col text,
        |  value map<text, bigint>, wt bigint);
        |TRUNCATE ks.l;
        |TRUNCATE ks.s;
        |TRUNCATE ks.m;
        |UPDATE ks.l SET xs = xs + [5, 6, 7] WHERE pk = 1;
        |UPDATE ks.l SET xs = xs + [9] WHERE pk = 2;
        |DELETE xs[0] FROM ks.l WHERE pk = 1;
        |UPDATE ks.s SET st = st + {4, 4, 2} WHERE pk = 1;
        |UPDATE ks.m SET m['b'] = 2 WHERE pk = 1 AND ck = 1;
        |UPDATE ks.m SET m['a'] = 1 WHERE pk = 1 AND ck = 1
        |""".stripMargin, cat)
    val l = cq("SELECT pk, xs FROM ks.l ORDER BY pk")
      .select(lit("l").as("item"), col("pk"),
        array_join(col("xs").cast("array<string>"), "|").as("v"))
    val st = cq("SELECT pk, st FROM ks.s ORDER BY pk")
      .select(lit("s").as("item"), col("pk"),
        array_join(col("st").cast("array<string>"), "|").as("v"))
    val m = cq("SELECT pk, ck, m FROM ks.m WHERE pk = 1 AND ck = 1")
      .select(lit("m").as("item"), col("pk"),
        expr("array_join(transform(array_sort(map_entries(m)), " +
          "e -> concat(e.key, '=', e.value)), '|')").as("v"))
    l.unionAll(st).unionAll(m).orderBy(col("item"), col("pk"))
  }

  private val collectionSelectSql =
    """SELECT item, CAST(pk AS BIGINT) AS pk, v FROM (VALUES
      |  ('l', 1, '6|7'), ('l', 2, '9'),
      |  ('m', 1, 'a=1|b=2'),
      |  ('s', 1, '2|4')) AS t(item, pk, v)
      |ORDER BY item, pk""".stripMargin

  // C11h — whole-MAP replace/clear/delete (r17): on a DECLARED
  // map<text, T> column (C65z) the schema enumerates every key and
  // static column, so the clear set is computable — the row's live
  // non-marker cells ARE the entries. `m = {'k': v, ..}` tombstones
  // each entry the literal does not re-put and writes the puts at
  // the statement writetime (a re-put key skips its tombstone —
  // never an LWW tie with its own shadow); `m = {}` is the
  // row-scoped CLEAR; the CK-LESS `DELETE m` clears every row's map
  // of the partition (the ck-bound bare-name DELETE stays the ENTRY
  // delete — C65z's contract); INSERT with a map literal desugars
  // to the replace (Cassandra's insert semantics on a collection).
  // The static column survives every clear (statics are
  // partition-front '!s:'-cells, not entries).
  private def mapReplace(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_mrep"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-mrep-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.m (pk bigint, ck int, col text,
        |  value map<text, bigint>, wt bigint, tag bigint STATIC);
        |TRUNCATE ks.m;
        |UPDATE ks.m SET tag = 77 WHERE pk = 1;
        |UPDATE ks.m SET m['a'] = 1, m['b'] = 2 WHERE pk = 1 AND ck = 1;
        |UPDATE ks.m SET m = {'b': 20, 'c': 30} WHERE pk = 1 AND ck = 1;
        |UPDATE ks.m SET m['x'] = 9 WHERE pk = 1 AND ck = 2;
        |UPDATE ks.m SET m = {} WHERE pk = 1 AND ck = 2;
        |UPDATE ks.m SET m['q'] = 5 WHERE pk = 2 AND ck = 1;
        |INSERT INTO ks.m (pk, ck, m) VALUES (2, 1, {'r': 6});
        |UPDATE ks.m SET m['z'] = 1 WHERE pk = 3 AND ck = 1;
        |UPDATE ks.m SET m['z2'] = 2 WHERE pk = 3 AND ck = 2;
        |DELETE m FROM ks.m WHERE pk = 3;
        |UPDATE ks.m SET m['k1'] = 4 WHERE pk = 4 AND ck = 1;
        |UPDATE ks.m SET m['k2'] = 5 WHERE pk = 4 AND ck = 2;
        |UPDATE ks.m SET m = {} WHERE pk = 4 AND ck = 1
        |""".stripMargin, cat)
    val maps = cq("SELECT pk, ck, m FROM ks.m")
      .select(lit("m").as("item"), col("pk"), col("ck"),
        expr("array_join(transform(array_sort(map_entries(m)), " +
          "e -> concat(e.key, '=', e.value)), '|')").as("v"))
    val st = cq("SELECT pk, tag FROM ks.m WHERE pk = 1")
      .select(lit("s").as("item"), col("pk"), lit(0).as("ck"),
        col("tag").cast("string").as("v"))
    maps.unionAll(st).orderBy(col("item"), col("pk"), col("ck"))
  }

  private val mapReplaceSql =
    """SELECT item, CAST(pk AS BIGINT) AS pk, CAST(ck AS INT) AS ck, v
      |FROM (VALUES
      |  ('m', 1, 1, 'b=20|c=30'),
      |  ('m', 2, 1, 'r=6'),
      |  ('m', 4, 2, 'k2=5'),
      |  ('s', 1, 0, '77')) AS t(item, pk, ck, v)
      |ORDER BY item, pk, ck""".stripMargin

  // C11i — collection updates inside a LOGGED BATCH (r18): the
  // single-statement read-before-write machinery (C11c-h) stages its
  // element cells and tombstone markers under the C56 batch journal,
  // so `BEGIN BATCH … SET l = l + [x] … APPLY BATCH` applies
  // atomically at ONE shared batch writetime. Cassandra's batch
  // semantics hold: every statement reads the PRE-batch reconciled
  // state (no intra-batch read-your-writes — a same-batch append
  // survives a same-batch replace, which only shadows pre-batch
  // cells), and two same-batch appends to one collection land as
  // DISTINCT elements in statement order (a shared per-batch
  // append-position map mirrors Cassandra's generation-ordered
  // timeuuid cell names). INSERT with a collection literal desugars
  // to the replace form inside the batch exactly as the
  // single-statement front door does.
  private def batchCollections(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_bcoll"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-bcoll-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.bl (pk bigint, ck int, col text,
        |  value list<bigint>, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.bm (pk bigint, ck int, col text,
        |  value map<text, bigint>, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.bs (pk bigint, ck int, col text,
        |  value set<bigint>, wt bigint);
        |TRUNCATE ks.bl;
        |TRUNCATE ks.bm;
        |TRUNCATE ks.bs;
        |UPDATE ks.bl SET l = l + [1, 2] WHERE pk = 1;
        |UPDATE ks.bm SET m['a'] = 1 WHERE pk = 1 AND ck = 1;
        |UPDATE ks.bm SET m['drop'] = 9 WHERE pk = 1 AND ck = 1;
        |UPDATE ks.bs SET st = st + {1, 2} WHERE pk = 1;
        |BEGIN BATCH
        |  UPDATE ks.bl SET l = l + [3] WHERE pk = 1;
        |  UPDATE ks.bl SET l = l + [4] WHERE pk = 1;
        |  INSERT INTO ks.bl (pk, l) VALUES (2, [7, 8]);
        |  UPDATE ks.bm SET m['b'] = 2, m['a'] = 11 WHERE pk = 1 AND ck = 1;
        |  DELETE m['drop'] FROM ks.bm WHERE pk = 1 AND ck = 1;
        |  UPDATE ks.bm SET m = {'only': 5} WHERE pk = 2 AND ck = 1;
        |  UPDATE ks.bs SET st = st + {3} WHERE pk = 1;
        |  UPDATE ks.bs SET st = st - {2} WHERE pk = 1;
        |APPLY BATCH;
        |BEGIN BATCH
        |  UPDATE ks.bl SET l = [100] WHERE pk = 1;
        |  UPDATE ks.bl SET l = l + [101] WHERE pk = 1;
        |APPLY BATCH
        |""".stripMargin, cat)
    val l = cq("SELECT pk, l FROM ks.bl ORDER BY pk")
      .select(lit("l").as("item"), col("pk"), lit(0).as("ck"),
        array_join(col("l").cast("array<string>"), "|").as("v"))
    val m = cq("SELECT pk, ck, m FROM ks.bm ORDER BY pk")
      .select(lit("m").as("item"), col("pk"), col("ck"),
        expr("array_join(transform(array_sort(map_entries(m)), " +
          "e -> concat(e.key, '=', e.value)), '|')").as("v"))
    val st = cq("SELECT pk, st FROM ks.bs ORDER BY pk")
      .select(lit("s").as("item"), col("pk"), lit(0).as("ck"),
        array_join(col("st").cast("array<string>"), "|").as("v"))
    l.unionAll(m).unionAll(st).orderBy(col("item"), col("pk"), col("ck"))
  }

  private val batchCollectionsSql =
    """SELECT item, CAST(pk AS BIGINT) AS pk, CAST(ck AS INT) AS ck, v
      |FROM (VALUES
      |  ('l', 1, 0, '100|101'),
      |  ('l', 2, 0, '7|8'),
      |  ('m', 1, 1, 'a=11|b=2'),
      |  ('m', 2, 1, 'only=5'),
      |  ('s', 1, 0, '1|3')) AS t(item, pk, ck, v)
      |ORDER BY item, pk, ck""".stripMargin

  // C11i typed twin (r18) — batched collection updates over a TYPED
  // (CEL6) key layout: the same journal contract as the default
  // twin — appends claim cks after the partition max in statement
  // order, a batched replace reads PRE-batch state (the same-batch
  // append survives it), set removes tombstone pre-batch elements —
  // all landing atomically at ONE batch writetime through the typed
  // journal slice.
  private def batchCollectionsTyped(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_tbcoll"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-tbcoll-q")
          .toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.t (user text, ck int, col text,
        |  value bigint, wt bigint, PRIMARY KEY ((user), ck));
        |TRUNCATE ks.t;
        |UPDATE ks.t SET l = l + [1, 2] WHERE user = 'u';
        |UPDATE ks.t SET st = st + {7} WHERE user = 'u';
        |BEGIN BATCH
        |  UPDATE ks.t SET l = l + [3] WHERE user = 'u';
        |  UPDATE ks.t SET l = l + [4] WHERE user = 'u';
        |  UPDATE ks.t SET st = st - {7} WHERE user = 'u';
        |  UPDATE ks.t SET st = st + {8} WHERE user = 'u';
        |  UPDATE ks.t SET m['k'] = 5 WHERE user = 'u' AND ck = 1;
        |APPLY BATCH;
        |BEGIN BATCH
        |  UPDATE ks.t SET l = [100] WHERE user = 'u';
        |  UPDATE ks.t SET l = l + [101] WHERE user = 'u';
        |APPLY BATCH
        |""".stripMargin, cat)
    // raw reconciled read (the facade's strict guard refuses the
    // marker-prefix filter as an unkeyed pushdown)
    s.read.format("graft.sources.CellSource")
      .option("reconcile", "true")
      .load(s.conf.get(s"spark.sql.catalog.$cat.root") + "/ks/t")
      .filter(!col("col").startsWith("!"))
      .select(col("user"), col("ck"), col("col"), col("value"))
      .orderBy(col("col"), col("ck"))
  }

  // the replace shadows pre-batch l (1-4), its same-batch append
  // survives; st = {8} after the batched remove+add; the map entry
  // k=5 at the bound row
  private val batchCollectionsTypedSql =
    """SELECT user, CAST(ck AS INT) AS ck, col,
      |  CAST(v AS BIGINT) AS value
      |FROM (VALUES
      |  ('u', 1, 'k', 5),
      |  ('u', 5, 'l', 100), ('u', 6, 'l', 101),
      |  ('u', 2, 'st', 8)) AS t(user, ck, col, v)
      |ORDER BY col, ck""".stripMargin

  // C65g — CQL COUNTER round trip end-to-end: create a counter table
  // through the catalog DDL, apply increments/decrements (each one a
  // shard-delta cell, incl. an UNLOGGED counter batch — the legal
  // form), and read the shard-SUM view back through the front door.
  // The oracle is the expected totals literal — the engine must
  // reproduce them exactly through delta append + shard-sum merge.
  private def cqlCounter(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_cnt"
    // Spark's CatalogManager caches the catalog INSTANCE per name, so
    // the registration happens once per session and the statements
    // are idempotent against a reused root (TRUNCATE resets state)
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-cnt-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    cq("CREATE KEYSPACE IF NOT EXISTS ks")
    cq("CREATE TABLE IF NOT EXISTS ks.c (pk bigint, ck int, col text, " +
      "value counter, wt bigint, PRIMARY KEY ((pk), ck))")
    cq("TRUNCATE ks.c")
    cq("UPDATE ks.c SET hits = hits + 5 WHERE pk = 1 AND ck = 1")
    cq("UPDATE ks.c SET hits = hits + 3, views = views + 2 " +
      "WHERE pk = 1 AND ck = 1")
    cq("UPDATE ks.c SET hits = hits - 2 WHERE pk = 1 AND ck = 1")
    cq("""BEGIN UNLOGGED BATCH
         |  UPDATE ks.c SET hits = hits + 10 WHERE pk = 2 AND ck = 1;
         |  UPDATE ks.c SET hits = hits + 20 WHERE pk = 2 AND ck = 1;
         |APPLY BATCH""".stripMargin)
    cq("SELECT pk, col, value FROM ks.c ORDER BY pk, col")
  }

  private val cqlCounterSql =
    """SELECT CAST(pk AS BIGINT) AS pk, col, CAST(v AS BIGINT) AS value
      |FROM (VALUES (1, 'hits', 6), (1, 'views', 2), (2, 'hits', 30))
      |  AS t(pk, col, v)
      |ORDER BY pk, col""".stripMargin

  // C10d — BEGIN COUNTER BATCH (r16): Cassandra's dedicated grouping
  // form for counter increments. Counters are never journaled (shard
  // deltas are not idempotent — a crash-replay would double-count)
  // and never take client timestamps, so the form is grouping-only:
  // each statement lands as its own shard-delta cell, the batch body
  // shares ONE flush per table, and any non-counter statement in the
  // body refuses with Cassandra's own message ("Cannot include
  // non-counter statement in a counter batch"). The read back is the
  // C10 shard-SUM merge.
  private def counterBatch(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_cntb"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-cntb-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    cq("CREATE KEYSPACE IF NOT EXISTS ks")
    cq("CREATE TABLE IF NOT EXISTS ks.c (pk bigint, ck int, col text, " +
      "value counter, wt bigint, PRIMARY KEY ((pk), ck))")
    cq("TRUNCATE ks.c")
    cq("UPDATE ks.c SET hits = hits + 1 WHERE pk = 1 AND ck = 1")
    cq("""BEGIN COUNTER BATCH
         |  UPDATE ks.c SET hits = hits + 7 WHERE pk = 1 AND ck = 1;
         |  UPDATE ks.c SET views = views + 4, hits = hits - 2
         |    WHERE pk = 1 AND ck = 1;
         |  UPDATE ks.c SET hits = hits + 100 WHERE pk = 9 AND ck = 2;
         |APPLY BATCH""".stripMargin)
    cq("""BEGIN COUNTER BATCH
         |  UPDATE ks.c SET views = views - 1 WHERE pk = 9 AND ck = 2;
         |APPLY BATCH""".stripMargin)
    cq("SELECT pk, ck, col, value FROM ks.c ORDER BY pk, ck, col")
  }

  private val counterBatchSql =
    """SELECT CAST(pk AS BIGINT) AS pk, CAST(ck AS INT) AS ck, col,
      |  CAST(v AS BIGINT) AS value
      |FROM (VALUES (1, 1, 'hits', 6), (1, 1, 'views', 4),
      |  (9, 2, 'hits', 100), (9, 2, 'views', -1)) AS t(pk, ck, col, v)
      |ORDER BY pk, ck, col""".stripMargin

  // C55b — TYPED-table LWT round trip end-to-end: a DDL-created
  // typed table, the full conditional-statement matrix (IF NOT
  // EXISTS apply + refuse, IF col = v, IF EXISTS miss, conditional
  // DELETE), and the final reconciled state read back through the
  // front door. The oracle is the expected final-state literal — the
  // engine must reproduce it through the keyed ballot-locked CAS.
  private def typedLwt(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_tlwt"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-tlwt-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    cq("CREATE KEYSPACE IF NOT EXISTS ks")
    cq("CREATE TABLE IF NOT EXISTS ks.t (user text, ck int, " +
      "col text, value bigint, wt bigint, PRIMARY KEY ((user), ck))")
    cq("TRUNCATE ks.t")
    cq("INSERT INTO ks.t (user, ck, qty) VALUES ('u-1', 1, 5) " +
      "IF NOT EXISTS") // applies
    cq("INSERT INTO ks.t (user, ck, qty) VALUES ('u-1', 1, 9) " +
      "IF NOT EXISTS") // refuses — 5 stays
    cq("UPDATE ks.t SET qty = 6 WHERE user = 'u-1' AND ck = 1 " +
      "IF qty = 5") // applies
    cq("UPDATE ks.t SET qty = 7 WHERE user = 'ghost' AND ck = 1 " +
      "IF EXISTS") // refuses — no row appears
    cq("INSERT INTO ks.t (user, ck, qty) VALUES ('u-2', 1, 1) " +
      "IF NOT EXISTS") // applies
    cq("DELETE FROM ks.t WHERE user = 'u-2' AND ck = 1 " +
      "IF qty = 1") // applies — the write IS the row tombstone
    cq("SELECT user, ck, value FROM ks.t ORDER BY user, ck")
  }

  private val typedLwtSql =
    """SELECT u AS "user", CAST(ck AS INT) AS ck,
      |  CAST(v AS BIGINT) AS value
      |FROM (VALUES ('u-1', 1, 6)) AS t(u, ck, v)
      |ORDER BY u, ck""".stripMargin

  // C56b — TYPED-table logged BATCH end-to-end: typed and default
  // layouts mixed in one batch under ONE shared writetime; the typed
  // row delete journals and shadows atomically with the data writes.
  private def typedBatch(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_tbat"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-tbat-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    cq("CREATE KEYSPACE IF NOT EXISTS ks")
    cq("CREATE TABLE IF NOT EXISTS ks.t (user text, ck int, " +
      "col text, value bigint, wt bigint, PRIMARY KEY ((user), ck))")
    cq("TRUNCATE ks.t")
    cq("INSERT INTO ks.t (user, ck, qty) VALUES ('u-0', 1, 1)")
    cq("""BEGIN BATCH
         |  INSERT INTO ks.t (user, ck, qty) VALUES ('u-1', 1, 11);
         |  UPDATE ks.t SET qty = 12 WHERE user = 'u-2' AND ck = 2;
         |  DELETE FROM ks.t WHERE user = 'u-0' AND ck = 1;
         |APPLY BATCH""".stripMargin)
    cq("SELECT user, ck, value FROM ks.t ORDER BY user, ck")
  }

  private val typedBatchSql =
    """SELECT u AS "user", CAST(ck AS INT) AS ck,
      |  CAST(v AS BIGINT) AS value
      |FROM (VALUES ('u-1', 1, 11), ('u-2', 2, 12)) AS t(u, ck, v)
      |ORDER BY u, ck""".stripMargin

  // C56d — CONDITIONAL (LWT) LOGGED BATCH end-to-end (r14): IF
  // forms inside BEGIN BATCH, every statement bound to ONE partition
  // (Cassandra's rule — one Paxos round arbitrates the whole batch).
  // A failing condition applies NOTHING; a passing matrix applies
  // every statement's cells at one shared writetime, unconditional
  // riders included. The oracle is the expected final-state literal.
  private def conditionalBatchLifecycle(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_cbat"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-cbat-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    cq("CREATE KEYSPACE IF NOT EXISTS ks")
    cq("CREATE TABLE IF NOT EXISTS ks.cart (pk bigint, ck int, " +
      "col text, value bigint, wt bigint)")
    cq("TRUNCATE ks.cart")
    cq("INSERT INTO ks.cart (pk, ck, qty) VALUES (1, 1, 10)")
    cq("""BEGIN BATCH
         |  INSERT INTO ks.cart (pk, ck, qty) VALUES (1, 2, 20) IF NOT EXISTS;
         |  UPDATE ks.cart SET qty = 11 WHERE pk = 1 AND ck = 1;
         |APPLY BATCH""".stripMargin) // applies: row (1,2) absent
    cq("""BEGIN BATCH
         |  UPDATE ks.cart SET qty = 99 WHERE pk = 1 AND ck = 1 IF qty = 5;
         |  INSERT INTO ks.cart (pk, ck, qty) VALUES (1, 3, 30);
         |APPLY BATCH""".stripMargin) // refused: qty is 11, not 5
    cq("""BEGIN BATCH
         |  UPDATE ks.cart SET qty = 12 WHERE pk = 1 AND ck = 1 IF qty = 11;
         |  DELETE FROM ks.cart WHERE pk = 1 AND ck = 2 IF EXISTS;
         |  INSERT INTO ks.cart (pk, ck, qty) VALUES (1, 4, 40);
         |APPLY BATCH""".stripMargin) // applies: both conditions hold
    cq("SELECT pk, ck, value FROM ks.cart ORDER BY pk, ck")
  }

  private val conditionalBatchSql =
    """SELECT CAST(pk AS BIGINT) AS pk, CAST(ck AS INT) AS ck,
      |  CAST(v AS BIGINT) AS value
      |FROM (VALUES (1, 1, 12), (1, 4, 40)) AS t(pk, ck, v)
      |ORDER BY pk, ck""".stripMargin

  // C56f — conditional (LWT) LOGGED BATCH over a TYPED / composite
  // key layout (r18): the C56d lifecycle with every key part bound by
  // NAME, arbitrated by ONE keyed ballot round (casBatchKeyed). A
  // failing condition applies NOTHING (unconditional riders
  // included); a passing matrix lands every statement's cells at one
  // shared writetime. The oracle is the expected final-state literal.
  private def conditionalBatchTyped(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_tcbat"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-tcbat-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    cq("CREATE KEYSPACE IF NOT EXISTS ks")
    cq("CREATE TABLE IF NOT EXISTS ks.cart (tenant text, day bigint, " +
      "slot int, col text, value bigint, wt bigint, " +
      "PRIMARY KEY ((tenant, day), slot))")
    cq("TRUNCATE ks.cart")
    cq("INSERT INTO ks.cart (tenant, day, slot, qty) " +
      "VALUES ('acme', 7, 1, 10)")
    cq("""BEGIN BATCH
         |  INSERT INTO ks.cart (tenant, day, slot, qty) VALUES ('acme', 7, 2, 20) IF NOT EXISTS;
         |  UPDATE ks.cart SET qty = 11 WHERE tenant = 'acme' AND day = 7 AND slot = 1;
         |APPLY BATCH""".stripMargin) // applies: row (…, 2) absent
    cq("""BEGIN BATCH
         |  UPDATE ks.cart SET qty = 99 WHERE tenant = 'acme' AND day = 7 AND slot = 1 IF qty = 5;
         |  INSERT INTO ks.cart (tenant, day, slot, qty) VALUES ('acme', 7, 3, 30);
         |APPLY BATCH""".stripMargin) // refused: qty is 11, not 5
    cq("""BEGIN BATCH
         |  UPDATE ks.cart SET qty = 12 WHERE tenant = 'acme' AND day = 7 AND slot = 1 IF qty = 11 AND qty > 10;
         |  DELETE FROM ks.cart WHERE tenant = 'acme' AND day = 7 AND slot = 2 IF EXISTS;
         |  INSERT INTO ks.cart (tenant, day, slot, qty) VALUES ('acme', 7, 4, 40);
         |APPLY BATCH""".stripMargin) // applies: both conditions hold
    cq("""BEGIN BATCH
         |  UPDATE ks.cart SET qty = 13 WHERE tenant = 'acme' AND day = 7 AND slot = 1 IF qty IN (12, 99);
         |  DELETE qty FROM ks.cart WHERE tenant = 'acme' AND day = 7 AND slot = 4 IF qty = 40;
         |APPLY BATCH""".stripMargin) // applies: IN hit + cell delete
    cq("SELECT tenant, day, slot, value FROM ks.cart")
      .orderBy("slot")
  }

  private val conditionalBatchTypedSql =
    """SELECT tenant, CAST(day AS BIGINT) AS day,
      |  CAST(slot AS INT) AS slot, CAST(v AS BIGINT) AS value
      |FROM (VALUES ('acme', 7, 1, 13)) AS t(tenant, day, slot, v)
      |ORDER BY slot""".stripMargin

  // C10c — TYPED-table counter round trip end-to-end: shard-delta
  // increments with named key parts, shard-SUM reads, the legal
  // UNLOGGED counter batch — C65g's lifecycle over a typed layout.
  private def typedCounter(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_tcnt"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-tcnt-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    cq("CREATE KEYSPACE IF NOT EXISTS ks")
    cq("CREATE TABLE IF NOT EXISTS ks.hits (page text, ck int, " +
      "col text, value counter, wt bigint, PRIMARY KEY ((page), ck))")
    cq("TRUNCATE ks.hits")
    cq("UPDATE ks.hits SET n = n + 5 WHERE page = 'home' AND ck = 1")
    cq("UPDATE ks.hits SET n = n + 3, m = m + 2 " +
      "WHERE page = 'home' AND ck = 1")
    cq("UPDATE ks.hits SET n = n - 2 WHERE page = 'home' AND ck = 1")
    cq("""BEGIN UNLOGGED BATCH
         |  UPDATE ks.hits SET n = n + 10 WHERE page = 'about' AND ck = 1;
         |  UPDATE ks.hits SET n = n + 20 WHERE page = 'about' AND ck = 1;
         |APPLY BATCH""".stripMargin)
    cq("SELECT page, col, value FROM ks.hits ORDER BY page, col")
  }

  private val typedCounterSql =
    """SELECT p AS page, col, CAST(v AS BIGINT) AS value
      |FROM (VALUES ('about', 'n', 30), ('home', 'm', 2),
      |  ('home', 'n', 6)) AS t(p, col, v)
      |ORDER BY p, col""".stripMargin

  // C28d — default_time_to_live end-to-end: a table-level TTL grant
  // assigned AT WRITE TIME (Cassandra's rule — later ALTERs never
  // touch existing cells): writes without USING TTL take the current
  // default, explicit TTL overrides, TTL 0 explicitly disables, and
  // an ALTER raises the default for future writes only.
  private def defaultTtlLifecycle(s: SparkSession, d: String)
      : DataFrame = {
    val cat = "gq_dttl"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-dttl-q").toString)
    }
    // one SCRIPT: the buffer mixes per-row TTL grants in one flush
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |DROP TABLE IF EXISTS ks.t;
        |CREATE TABLE ks.t (pk bigint, ck int, col text, value bigint,
        |  wt bigint, PRIMARY KEY ((pk), ck))
        |  WITH default_time_to_live = 50;
        |INSERT INTO ks.t (pk, ck, qty) VALUES (1, 1, 1);
        |INSERT INTO ks.t (pk, ck, qty) VALUES (2, 1, 2) USING TTL 7;
        |INSERT INTO ks.t (pk, ck, qty) VALUES (3, 1, 3) USING TTL 0;
        |ALTER TABLE ks.t WITH default_time_to_live = 90;
        |INSERT INTO ks.t (pk, ck, qty) VALUES (4, 1, 4);
        |SELECT pk, TTL(qty) AS t FROM ks.t ORDER BY pk""".stripMargin,
      cat)
  }

  private val defaultTtlSql =
    """SELECT CAST(pk AS BIGINT) AS pk, CAST(t AS BIGINT) AS t
      |FROM (VALUES (1, 50), (2, 7), (3, NULL), (4, 90)) AS v(pk, t)
      |ORDER BY pk""".stripMargin

  // C67 — the driver/cqlsh metadata round end-to-end: DDL-created
  // keyspace + typed table with options, then the system_schema
  // columns relation (key parts with kind/position/type, the cell
  // tail as regulars) read back through the front door. Bounded by
  // table count — no Spark job, no data read.
  private def systemSchemaRound(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_sysschema"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-ss-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    cq("CREATE KEYSPACE IF NOT EXISTS ks")
    cq("CREATE TABLE IF NOT EXISTS ks.t (tenant text, day int, " +
      "seq int, col text, value bigint, wt bigint, " +
      "PRIMARY KEY ((tenant, day), seq)) " +
      "WITH default_time_to_live = 50")
    cq("SELECT column_name, kind, position, type " +
      "FROM system_schema.columns " +
      "WHERE keyspace_name = 'ks' AND table_name = 't'")
      .orderBy(col("kind"), col("position"), col("column_name"))
  }

  private val systemSchemaSql =
    """SELECT c AS column_name, k AS kind, CAST(p AS INT) AS position,
      |  t AS type
      |FROM (VALUES
      |  ('seq', 'clustering', 0, 'int'),
      |  ('tenant', 'partition_key', 0, 'text'),
      |  ('day', 'partition_key', 1, 'int'),
      |  ('col', 'regular', -1, 'text'),
      |  ('value', 'regular', -1, 'bigint'),
      |  ('wt', 'regular', -1, 'bigint')) AS v(c, k, p, t)
      |ORDER BY k, p, c""".stripMargin

  // C67b — the connect round proper: `system.local` (the one row
  // every driver reads first — cluster name, partitioner, release,
  // topology) and `system.peers` (empty; single-node). Deterministic
  // columns only; host_id/schema_version/tokens are CqlSpec-covered.
  private def systemLocalRound(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_syslocal"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-sl-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    cq("CREATE KEYSPACE IF NOT EXISTS ks")
    cq("CREATE TABLE IF NOT EXISTS ks.t (pk bigint, ck int, col text, " +
      "value bigint, wt bigint, PRIMARY KEY ((pk), ck))")
    val peerCount = cq("SELECT peer FROM system.peers").count()
    cq("SELECT key, bootstrapped, cluster_name, data_center, " +
      "partitioner, rack, release_version, native_protocol_version " +
      "FROM system.local WHERE key = 'local'")
      .withColumn("peer_count", lit(peerCount))
  }

  private val systemLocalSql =
    """SELECT 'local' AS "key", 'COMPLETED' AS bootstrapped,
      |  'graft' AS cluster_name, 'datacenter1' AS data_center,
      |  'graft.sources.Mix64Partitioner' AS partitioner,
      |  'rack1' AS rack, '5.0-graft' AS release_version,
      |  '5' AS native_protocol_version,
      |  CAST(0 AS BIGINT) AS peer_count""".stripMargin

  // C67c — the split-planning round: `system.size_estimates`, the
  // relation every Spark/Hadoop Cassandra connector reads to size its
  // input splits. Header-only (Summary bounds + sparse-index samples
  // + on-disk size; no data read); the oracle pins the estimated
  // partition count (mean_partition_size is byte-encoding-dependent
  // and CqlSpec-covered instead).
  private def sizeEstimatesRound(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_sizeest"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-sz-q").toString)
    }
    // one SCRIPT: the size_estimates read flushes the buffered
    // writes first (catalog-wide metadata reads flush everything)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.t (pk bigint, ck int, col text,
        |  value bigint, wt bigint);
        |TRUNCATE ks.t;
        |INSERT INTO ks.t (pk, ck, qty) VALUES (1, 1, 10);
        |INSERT INTO ks.t (pk, ck, qty) VALUES (2, 1, 20);
        |INSERT INTO ks.t (pk, ck, qty) VALUES (3, 1, 30);
        |SELECT keyspace_name, table_name, partitions_count
        |  FROM system.size_estimates WHERE table_name = 't'"""
        .stripMargin, cat)
  }

  private val sizeEstimatesSql =
    """SELECT 'ks' AS keyspace_name, 't' AS table_name,
      |  CAST(3 AS BIGINT) AS partitions_count""".stripMargin



  // C59c — frozen UDTs over TYPED layouts (r12): the C59b front door
  // generalized to named key parts — INSERT/UPDATE pack literals into
  // typed binary rows, tombstone markers carry empty blobs at the
  // table's value type, DELETE (full-key AND prefix) routes the CQL
  // typed marker path (markers append under the table's own value
  // type), field selection unpacks per row.
  private def typedUdtLifecycle(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_udtt"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-udtt-q").toString)
    }
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TYPE IF NOT EXISTS ks.item (q bigint, t text);
        |CREATE TABLE IF NOT EXISTS ks.ev (tenant text, seq int,
        |  col text, value frozen<item>, wt bigint,
        |  PRIMARY KEY ((tenant), seq));
        |TRUNCATE ks.ev;
        |INSERT INTO ks.ev (tenant, seq, v) VALUES ('a', 1,
        |  {q: 10, t: 'x'});
        |INSERT INTO ks.ev (tenant, seq, v) VALUES ('a', 1,
        |  {q: 11, t: 'y'});
        |INSERT INTO ks.ev (tenant, seq, v) VALUES ('a', 2, {q: 20});
        |UPDATE ks.ev SET v = {q: 30, t: 'z'} WHERE tenant = 'b'
        |  AND seq = 1;
        |INSERT INTO ks.ev (tenant, seq, v) VALUES ('c', 1,
        |  {q: 40, t: 'w'});
        |DELETE FROM ks.ev WHERE tenant = 'c' AND seq = 1;
        |SELECT tenant, seq, v.q AS q, v.t AS tag FROM ks.ev
        |  ORDER BY tenant, seq""".stripMargin, cat)
  }

  private val typedUdtSql =
    """SELECT tn AS tenant, CAST(sq AS INT) AS seq,
      |  CAST(q AS BIGINT) AS q, tag
      |FROM (VALUES ('a', 1, 11, 'y'), ('a', 2, 20, NULL),
      |  ('b', 1, 30, 'z')) AS t(tn, sq, q, tag)
      |ORDER BY tenant, seq""".stripMargin

  // C67d — the UDT metadata round (r12): `system_schema.types` is
  // what a driver reads to decode frozen blobs (field names/types in
  // declared order), and DESCRIBE TYPE reconstructs the DDL. Bounded
  // by type count — no Spark job, no data read.
  private def udtMetadataRound(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_udtmeta"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-udtm-q").toString)
    }
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TYPE IF NOT EXISTS ks.item (q bigint, t text);
        |CREATE TYPE IF NOT EXISTS ks.pair (a int, b double);
        |SELECT keyspace_name, type_name, field_names, field_types
        |  FROM system_schema.types""".stripMargin, cat)
      .select(col("keyspace_name"), col("type_name"),
        concat_ws(",", col("field_names")).as("fields"),
        concat_ws(",", col("field_types")).as("types"))
      .orderBy("type_name")
  }

  private val udtMetadataSql =
    """SELECT ks AS keyspace_name, n AS type_name, f AS fields,
      |  t AS types
      |FROM (VALUES ('ks', 'item', 'q,t', 'bigint,text'),
      |  ('ks', 'pair', 'a,b', 'int,double')) AS v(ks, n, f, t)
      |ORDER BY type_name""".stripMargin

  // C67e — ALTER TYPE ADD/RENAME FIELD (r14): layout evolution
  // through the front door. Write-old → ADD → read-both (the
  // pre-evolution rows unpack the added trailing field as null —
  // frozen whole-value blobs and unfrozen single-field cells alike,
  // the C59 wire format's evolution rule) → write-new; then RENAME
  // against the frozen table (blobs are positional — the rename is
  // metadata-only, old data serves under the new name with no
  // rewrite). Re-runnable: the lifecycle drops and recreates its
  // types each pass.
  private def alterTypeLifecycle(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_udtev"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-udtev-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    cq("CREATE KEYSPACE IF NOT EXISTS ks")
    cq("DROP TABLE IF EXISTS ks.evf")
    cq("DROP TABLE IF EXISTS ks.evn")
    cq("DROP TYPE IF EXISTS ks.ev")
    cq("DROP TYPE IF EXISTS ks.evu")
    cq("CREATE TYPE ks.ev (q bigint)")
    cq("CREATE TYPE ks.evu (q bigint)")
    cq("CREATE TABLE ks.evf (pk bigint, ck int, col text, " +
      "value frozen<ev>, wt bigint)")
    cq("CREATE TABLE ks.evn (pk bigint, ck int, col text, " +
      "value evu, wt bigint)")
    cq("INSERT INTO ks.evf (pk, ck, v) VALUES (1, 1, {q: 5})")
    cq("INSERT INTO ks.evn (pk, ck, v) VALUES (1, 1, {q: 7})")
    cq("ALTER TYPE ks.ev ADD t text")
    cq("ALTER TYPE ks.evu ADD t text")
    cq("INSERT INTO ks.evf (pk, ck, v) VALUES (2, 1, {q: 6, t: 'x'})")
    cq("UPDATE ks.evn SET v.t = 'y' WHERE pk = 1 AND ck = 1")
    // frozen-only reference: the rename is pure metadata
    cq("ALTER TYPE ks.ev RENAME q TO amount")
    val fz = cq("SELECT pk, v.amount AS q, v.t AS tag FROM ks.evf")
      .withColumn("tbl", lit("fz"))
    val nf = cq("SELECT pk, v.q AS q, v.t AS tag FROM ks.evn")
      .withColumn("tbl", lit("nf"))
    fz.unionAll(nf).select(col("tbl"), col("pk"), col("q"), col("tag"))
      .orderBy(col("tbl"), col("pk"))
  }

  private val alterTypeSql =
    """SELECT tbl, CAST(pk AS BIGINT) AS pk, CAST(q AS BIGINT) AS q,
      |  tag
      |FROM (VALUES ('fz', 1, 5, NULL), ('fz', 2, 6, 'x'),
      |  ('nf', 1, 7, 'y')) AS t(tbl, pk, q, tag)
      |ORDER BY tbl, pk""".stripMargin

  // C18i — SASI prefix LIKE (r14): an ORDER-PRESERVING text index
  // (entries keyed by the value's first-8-byte code with identity
  // tokens) serves `WHERE word LIKE 'p%'` as ONE Summary-pruned pk
  // range over the index — the C18e sparse-numeric plan shape, in
  // SASI PREFIX mode — then the LIKE predicate re-applies on the
  // fetched base rows (8-byte collisions drop). Hash-keyed text
  // indexes keep refusing LIKE. Re-runnable: drops and recreates its
  // index and base each pass.
  private def prefixLike(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_pfx"
    val rootKey = s"spark.sql.catalog.$cat.root"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(rootKey,
        java.nio.file.Files.createTempDirectory("cql-pfx-q").toString)
    }
    val root = s.conf.get(rootKey)
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    cq("CREATE KEYSPACE IF NOT EXISTS ks")
    cq("DROP INDEX IF EXISTS ks.wp_word_prefix_idx")
    cq("DROP TABLE IF EXISTS ks.wp")
    cq("CREATE TABLE ks.wp (pk bigint, ck int, col text, " +
      "value text, wt bigint)")
    import s.implicits._
    Seq((1L, "cat"), (2L, "car"), (3L, "cart"), (4L, "dog"),
      (5L, "ca"), (6L, "carbonated"))
      .map { case (pk, w) => (pk, 1, "word", w, 100L) }
      .toDF("pk", "ck", "col", "value", "wt").coalesce(1)
      .write.format("graft.sources.CellSource")
      .option("valueType", "string").mode("append")
      .save(s"$root/ks/wp")
    cq("CREATE INDEX ON ks.wp (prefix(word))")
    cq("SELECT pk, ck, value FROM ks.wp WHERE word LIKE 'car%' " +
      "ORDER BY pk, ck")
  }

  private val prefixLikeSql =
    """SELECT CAST(pk AS BIGINT) AS pk, CAST(ck AS INT) AS ck,
      |  w AS value
      |FROM (VALUES (2, 1, 'car'), (3, 1, 'cart'),
      |  (6, 1, 'carbonated')) AS t(pk, ck, w)
      |ORDER BY pk, ck""".stripMargin

  // C65o — TEXT-valued tables through the CQL front door (r14):
  // `value text` tables take INSERT/UPDATE/DELETE with text literals
  // — text cells through the same buffered commit path, byte-ordered
  // LWW, empty-string tombstone markers — closing the front door's
  // bigint-only write gap (reads always served any value type).
  private def textValuesLifecycle(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_txt"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-txt-q").toString)
    }
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.prof (pk bigint, ck int,
        |  col text, value text, wt bigint);
        |TRUNCATE ks.prof;
        |INSERT INTO ks.prof (pk, ck, name, city) VALUES (1, 1,
        |  'alice', 'york');
        |UPDATE ks.prof SET city = 'leeds' WHERE pk = 1 AND ck = 1;
        |INSERT INTO ks.prof (pk, ck, name, city) VALUES (2, 1,
        |  'bob', 'rome');
        |DELETE city FROM ks.prof WHERE pk = 2 AND ck = 1;
        |INSERT INTO ks.prof (pk, ck, name) VALUES (3, 1, 'eve');
        |DELETE FROM ks.prof WHERE pk = 3 AND ck = 1;
        |SELECT pk, ck, col, value FROM ks.prof
        |  ORDER BY pk, ck, col""".stripMargin, cat)
  }

  private val textValuesSql =
    """SELECT CAST(pk AS BIGINT) AS pk, CAST(ck AS INT) AS ck,
      |  col, value
      |FROM (VALUES (1, 1, 'city', 'leeds'), (1, 1, 'name', 'alice'),
      |  (2, 1, 'name', 'bob')) AS t(pk, ck, col, value)
      |ORDER BY pk, ck, col""".stripMargin

  // C65p — BLOB-valued tables through the CQL front door (r14):
  // `value blob` tables take INSERT/UPDATE with Cassandra's 0x<hex>
  // literals, riding the binary buffered commit path; tombstones
  // carry the empty blob. The result projects hex so the DuckDB
  // oracle compares text, not driver-specific binary encodings.
  private def blobValuesLifecycle(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_blob"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-blob-q").toString)
    }
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.pb (pk bigint, ck int,
        |  col text, value blob, wt bigint);
        |TRUNCATE ks.pb;
        |INSERT INTO ks.pb (pk, ck, payload) VALUES (1, 1, 0xCAFE);
        |UPDATE ks.pb SET payload = 0xCAFEBABE WHERE pk = 1 AND ck = 1;
        |INSERT INTO ks.pb (pk, ck, payload) VALUES (2, 1, 0x00FF);
        |INSERT INTO ks.pb (pk, ck, payload) VALUES (3, 1, 0xDEAD);
        |DELETE payload FROM ks.pb WHERE pk = 3 AND ck = 1;
        |SELECT pk, ck, col, value FROM ks.pb
        |  ORDER BY pk, ck, col""".stripMargin, cat)
      .select(col("pk"), col("ck"), col("col"),
        upper(hex(col("value"))).as("hexv"))
  }

  private val blobValuesSql =
    """SELECT CAST(pk AS BIGINT) AS pk, CAST(ck AS INT) AS ck,
      |  col, h AS hexv
      |FROM (VALUES (1, 1, 'payload', 'CAFEBABE'),
      |  (2, 1, 'payload', '00FF')) AS t(pk, ck, col, h)
      |ORDER BY pk, ck, col""".stripMargin

  // C65q — DOUBLE/BOOLEAN/TIMESTAMP value types through the CQL
  // front door (r14): the remaining scalar types ride one generic
  // value-tagged cell path; only the literal grammar is
  // type-specific (decimals widen bigints, true/false, epoch millis
  // or ISO instants). Projections render to deterministic text so
  // the DuckDB oracle compares exactly.
  private def scalarValuesLifecycle(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_scalar"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-scalar-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.sd (pk bigint, ck int,
        |  col text, value double, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.sb (pk bigint, ck int,
        |  col text, value boolean, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.st (pk bigint, ck int,
        |  col text, value timestamp, wt bigint);
        |TRUNCATE ks.sd; TRUNCATE ks.sb; TRUNCATE ks.st;
        |INSERT INTO ks.sd (pk, ck, score) VALUES (10, 1, 1.5);
        |UPDATE ks.sd SET score = 3.5 WHERE pk = 10 AND ck = 1;
        |INSERT INTO ks.sd (pk, ck, score) VALUES (11, 1, 2.5);
        |INSERT INTO ks.sd (pk, ck, score) VALUES (12, 1, 9.5);
        |DELETE score FROM ks.sd WHERE pk = 12 AND ck = 1;
        |INSERT INTO ks.sb (pk, ck, active) VALUES (1, 1, true);
        |UPDATE ks.sb SET active = false WHERE pk = 1 AND ck = 1;
        |INSERT INTO ks.st (pk, ck, seen) VALUES (1, 1,
        |  '2020-01-02T03:04:05Z');
        |INSERT INTO ks.st (pk, ck, seen) VALUES (2, 1,
        |  1577934245000)""".stripMargin, cat)
    val dd = cq("SELECT pk, value FROM ks.sd")
      .select(lit("d").as("tbl"), col("pk"),
        col("value").cast("string").as("v"))
    val bb = cq("SELECT pk, value FROM ks.sb")
      .select(lit("b").as("tbl"), col("pk"),
        col("value").cast("string").as("v"))
    val tt = cq("SELECT pk, value FROM ks.st")
      .select(lit("ts").as("tbl"), col("pk"),
        expr("unix_millis(value)").cast("string").as("v"))
    dd.unionAll(bb).unionAll(tt).orderBy(col("tbl"), col("pk"))
  }

  private val scalarValuesSql =
    """SELECT tbl, CAST(pk AS BIGINT) AS pk, v
      |FROM (VALUES ('b', 1, 'false'), ('d', 10, '3.5'),
      |  ('d', 11, '2.5'), ('ts', 1, '1577934245000'),
      |  ('ts', 2, '1577934245000')) AS t(tbl, pk, v)
      |ORDER BY tbl, pk""".stripMargin

  // C65r — MAPPED CQL value types through the front door (r15):
  // uuid/timeuuid/inet/float/decimal/varint/time/date/smallint/
  // tinyint STORE as the cell layer's existing scalar layouts (text,
  // double, decimal(18,6), bigint, int) — the declared name rides as
  // the `cqlValueType` table property and drives a VALIDATED literal
  // grammar (a non-uuid string refuses instead of writing garbage),
  // tombstone neutrals, DESCRIBE rendering, and WHERE-value parsing.
  // Projections render to deterministic text for the DuckDB oracle.
  private def mappedValuesLifecycle(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_mapped"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-mapped-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.mu (pk bigint, ck int,
        |  col text, value uuid, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.mdc (pk bigint, ck int,
        |  col text, value decimal, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.mf (pk bigint, ck int,
        |  col text, value float, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.mdt (pk bigint, ck int,
        |  col text, value date, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.mtm (pk bigint, ck int,
        |  col text, value time, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.mip (pk bigint, ck int,
        |  col text, value inet, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.mvi (pk bigint, ck int,
        |  col text, value varint, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.msi (pk bigint, ck int,
        |  col text, value smallint, wt bigint);
        |TRUNCATE ks.mu; TRUNCATE ks.mdc; TRUNCATE ks.mf;
        |TRUNCATE ks.mdt; TRUNCATE ks.mtm; TRUNCATE ks.mip;
        |TRUNCATE ks.mvi; TRUNCATE ks.msi;
        |INSERT INTO ks.mu (pk, ck, id) VALUES (1, 1,
        |  123E4567-E89B-12D3-A456-426614174000);
        |UPDATE ks.mu SET id = 00000000-0000-1000-8000-000000000001
        |  WHERE pk = 1 AND ck = 1;
        |INSERT INTO ks.mu (pk, ck, id) VALUES (2, 1,
        |  00000000-0000-1000-8000-000000000002);
        |INSERT INTO ks.mu (pk, ck, id) VALUES (3, 1,
        |  00000000-0000-1000-8000-000000000003);
        |DELETE id FROM ks.mu WHERE pk = 3 AND ck = 1;
        |INSERT INTO ks.mdc (pk, ck, price) VALUES (1, 1, 12.345);
        |UPDATE ks.mdc SET price = 99 WHERE pk = 1 AND ck = 1;
        |INSERT INTO ks.mdc (pk, ck, price) VALUES (2, 1, -0.000001);
        |INSERT INTO ks.mf (pk, ck, ratio) VALUES (1, 1, 1.5);
        |INSERT INTO ks.mf (pk, ck, ratio) VALUES (2, 1, -0.25);
        |INSERT INTO ks.mdt (pk, ck, day) VALUES (1, 1, '1970-01-11');
        |INSERT INTO ks.mdt (pk, ck, day) VALUES (2, 1, '1969-12-31');
        |INSERT INTO ks.mtm (pk, ck, at) VALUES (1, 1, '01:02:03');
        |INSERT INTO ks.mtm (pk, ck, at) VALUES (2, 1, 42);
        |INSERT INTO ks.mip (pk, ck, addr) VALUES (1, 1,
        |  '192.168.0.1');
        |INSERT INTO ks.mip (pk, ck, addr) VALUES (2, 1,
        |  '2001:DB8::8:800:200C:417A');
        |INSERT INTO ks.mvi (pk, ck, n) VALUES (1, 1,
        |  -9223372036854775808);
        |INSERT INTO ks.msi (pk, ck, n) VALUES (1, 1, -32768)
        |""".stripMargin, cat)
    def part(tbl: String, tag: String): DataFrame =
      cq(s"SELECT pk, value FROM ks.$tbl")
        .select(lit(tag).as("tbl"), col("pk"),
          col("value").cast("string").as("v"))
    part("mu", "u").unionAll(part("mdc", "dc"))
      .unionAll(part("mf", "f")).unionAll(part("mdt", "dt"))
      .unionAll(part("mtm", "tm")).unionAll(part("mip", "ip"))
      .unionAll(part("mvi", "vi")).unionAll(part("msi", "si"))
      .orderBy(col("tbl"), col("pk"))
  }

  private val mappedValuesSql =
    """SELECT tbl, CAST(pk AS BIGINT) AS pk, v
      |FROM (VALUES
      |  ('u', 1, '00000000-0000-1000-8000-000000000001'),
      |  ('u', 2, '00000000-0000-1000-8000-000000000002'),
      |  ('dc', 1, '99.000000'), ('dc', 2, '-0.000001'),
      |  ('f', 1, '1.5'), ('f', 2, '-0.25'),
      |  ('dt', 1, '10'), ('dt', 2, '-1'),
      |  ('tm', 1, '3723000000000'), ('tm', 2, '42'),
      |  ('ip', 1, '192.168.0.1'),
      |  ('ip', 2, '2001:db8::8:800:200c:417a'),
      |  ('vi', 1, '-9223372036854775808'),
      |  ('si', 1, '-32768')) AS t(tbl, pk, v)
      |ORDER BY tbl, pk""".stripMargin

  // C65x — COLLECTIONS and STATICS over mapped declared types (r16):
  // `set<inet>` adds/removes parse elements through the inet grammar
  // (validated + canonicalized), `map<text, date>` entry values store
  // day counts through the date grammar, a `static uuid` column rides
  // the partition-marker position with uuid-validated literals — the
  // C11/C12/C13 element-per-cell encodings and the C15b static cells,
  // lifted over the C65r grammar matrix with zero new storage.
  private def mappedCollectionsLifecycle(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_c65x"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-c65x-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.si (pk bigint, ck int,
        |  col text, value inet, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.md (pk bigint, ck int,
        |  col text, value date, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.su (pk bigint, ck int,
        |  col text, value uuid, wt bigint, owner uuid STATIC);
        |TRUNCATE ks.si; TRUNCATE ks.md; TRUNCATE ks.su;
        |UPDATE ks.si SET ips = ips + {'10.0.0.1', '10.0.0.2'}
        |  WHERE pk = 1;
        |UPDATE ks.si SET ips = ips + {'2001:DB8::1'} WHERE pk = 1;
        |UPDATE ks.si SET ips = ips - {'10.0.0.2'} WHERE pk = 1;
        |UPDATE ks.si SET ips = ips + {'10.0.0.1'} WHERE pk = 2;
        |UPDATE ks.md SET m['start'] = '2024-01-29'
        |  WHERE pk = 1 AND ck = 1;
        |UPDATE ks.md SET m = m + {'a': '1970-01-02',
        |  'b': '1969-12-31'} WHERE pk = 1 AND ck = 1;
        |DELETE a FROM ks.md WHERE pk = 1 AND ck = 1;
        |INSERT INTO ks.su (pk, ck, id, owner) VALUES (1, 1,
        |  00000000-0000-1000-8000-000000000001,
        |  123E4567-E89B-12D3-A456-426614174000);
        |UPDATE ks.su SET owner =
        |  00000000-0000-1000-8000-00000000beef WHERE pk = 2
        |""".stripMargin, cat)
    cq("SELECT pk, col, value FROM ks.si")
      .select(lit("si").as("tbl"), col("pk"), col("col").as("k"),
        col("value").cast("string").as("v"))
      .unionAll(cq("SELECT pk, col, value FROM ks.md")
        .select(lit("md").as("tbl"), col("pk"), col("col").as("k"),
          col("value").cast("string").as("v")))
      .unionAll(cq("SELECT DISTINCT pk, owner FROM ks.su")
        .select(lit("su").as("tbl"), col("pk"), lit("owner").as("k"),
          col("owner").cast("string").as("v")))
      .orderBy(col("tbl"), col("pk"), col("k"), col("v"))
  }

  private val mappedCollectionsSql =
    """SELECT tbl, CAST(pk AS BIGINT) AS pk, k, v
      |FROM (VALUES
      |  ('md', 1, 'b', '-1'), ('md', 1, 'start', '19751'),
      |  ('si', 1, 'ips', '10.0.0.1'), ('si', 1, 'ips', '2001:db8::1'),
      |  ('si', 2, 'ips', '10.0.0.1'),
      |  ('su', 1, 'owner', '123e4567-e89b-12d3-a456-426614174000'),
      |  ('su', 2, 'owner', '00000000-0000-1000-8000-00000000beef'))
      |  AS t(tbl, pk, k, v)
      |ORDER BY tbl, pk, k, v""".stripMargin

  // C65s — the DURATION value type through the front door (r15):
  // Cassandra's (months, days, nanos) triple, stored as its canonical
  // text rendering (`1y2mo3d4h5m6s`). Both public literal grammars
  // parse to one canonical form — the unit-suffixed `12h30m` (strictly
  // descending units, optional leading '-') and ISO-8601 `P1Y2M3DT4H`
  // / `PnW`. Durations are NOT comparable (three independent axes), so
  // WHERE predicates, secondary indexes, and min/max/sum/avg refuse —
  // the lifecycle exercises write/overwrite/delete plus both grammars
  // and count(*), the one legal aggregate.
  private def durationValuesLifecycle(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_duration"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-duration-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.du (pk bigint, ck int,
        |  col text, value duration, wt bigint);
        |TRUNCATE ks.du;
        |INSERT INTO ks.du (pk, ck, uptime) VALUES (1, 1, 12h30m);
        |UPDATE ks.du SET uptime = 1y2mo3d4h5m6s
        |  WHERE pk = 1 AND ck = 1;
        |INSERT INTO ks.du (pk, ck, uptime) VALUES (2, 1, P1Y2M3DT4H);
        |INSERT INTO ks.du (pk, ck, uptime) VALUES (3, 1, P2W);
        |INSERT INTO ks.du (pk, ck, uptime) VALUES (4, 1, -90m);
        |INSERT INTO ks.du (pk, ck, uptime) VALUES (5, 1,
        |  '25h61m61s500ms');
        |INSERT INTO ks.du (pk, ck, uptime) VALUES (6, 1, 0s);
        |INSERT INTO ks.du (pk, ck, uptime) VALUES (7, 1, 14mo);
        |DELETE uptime FROM ks.du WHERE pk = 6 AND ck = 1""".stripMargin,
      cat)
    val rows = cq("SELECT pk, value FROM ks.du")
      .select(lit("v").as("tbl"), col("pk"), col("value").as("v"))
    val cnt = cq("SELECT count(*) AS n FROM ks.du")
      .select(lit("n").as("tbl"), lit(0L).as("pk"),
        col("n").cast("string").as("v"))
    rows.unionAll(cnt).orderBy(col("tbl"), col("pk"))
  }

  private val durationValuesSql =
    """SELECT tbl, CAST(pk AS BIGINT) AS pk, v
      |FROM (VALUES
      |  ('n', 0, '6'),
      |  ('v', 1, '1y2mo3d4h5m6s'), ('v', 2, '1y2mo3d4h'),
      |  ('v', 3, '14d'), ('v', 4, '-1h30m'),
      |  ('v', 5, '26h2m1s500ms'), ('v', 7, '1y2mo')) AS t(tbl, pk, v)
      |ORDER BY tbl, pk""".stripMargin

  // C65t — CAST(col AS type) selection casts (r15, Cassandra 3.2+):
  // a projection-only rewrite over key/cell-model columns, run inside
  // whole-stage codegen on the reconciled relation. Target subset
  // text/bigint/int/double with Cassandra's direction rules (numerics
  // anywhere with truncation-toward-zero narrowing, boolean/timestamp
  // to text, text to text; string-to-number is NOT in the matrix).
  private def cqlCastLifecycle(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_cast"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-cast-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.cb (pk bigint, ck int,
        |  col text, value bigint, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.cd (pk bigint, ck int,
        |  col text, value double, wt bigint);
        |TRUNCATE ks.cb; TRUNCATE ks.cd;
        |INSERT INTO ks.cb (pk, ck, n) VALUES (1, 1, 41);
        |INSERT INTO ks.cb (pk, ck, n) VALUES (2, 1, -7);
        |INSERT INTO ks.cd (pk, ck, x) VALUES (1, 1, 2.75);
        |INSERT INTO ks.cd (pk, ck, x) VALUES (2, 1, -1.25)""".stripMargin,
      cat)
    val cb = cq("SELECT pk, CAST(value AS text) AS c1, " +
      "CAST(value AS double) AS c2, CAST(value AS int) AS c3 " +
      "FROM ks.cb")
      .select(lit("b").as("tbl"), col("pk"), col("c1"),
        col("c2").cast("string").as("c2"),
        col("c3").cast("string").as("c3"))
    val cd = cq("SELECT pk, CAST(pk AS text) AS c1, " +
      "CAST(value AS bigint) AS c2, CAST(value AS text) AS c3 " +
      "FROM ks.cd")
      .select(lit("d").as("tbl"), col("pk"), col("c1"),
        col("c2").cast("string").as("c2"), col("c3"))
    cb.unionAll(cd).orderBy(col("tbl"), col("pk"))
  }

  private val cqlCastSql =
    """SELECT tbl, CAST(pk AS BIGINT) AS pk, c1, c2, c3
      |FROM (VALUES
      |  ('b', 1, '41', '41.0', '41'), ('b', 2, '-7', '-7.0', '-7'),
      |  ('d', 1, '1', '2', '2.75'),
      |  ('d', 2, '2', '-1', '-1.25')) AS t(tbl, pk, c1, c2, c3)
      |ORDER BY tbl, pk""".stripMargin

  // C63b — JSON over the declared value types (r15): INSERT JSON
  // routes each document field through the table's OWN literal
  // grammar (uuid documents get uuid validation, date strings store
  // as day counts, doubles take CQL's widening rule — exactly the
  // typing INSERT VALUES applies), and SELECT JSON renders the
  // declared semantics (a date value renders as its ISO date string,
  // not the stored day count).
  private def typedJsonLifecycle(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_tjson"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-tjson-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.jd (pk bigint, ck int,
        |  col text, value double, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.jdt (pk bigint, ck int,
        |  col text, value date, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.ju (pk bigint, ck int,
        |  col text, value uuid, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.jt (pk bigint, ck int,
        |  col text, value time, wt bigint);
        |TRUNCATE ks.jd; TRUNCATE ks.jdt; TRUNCATE ks.ju;
        |TRUNCATE ks.jt;
        |INSERT INTO ks.jd JSON '{"pk": 1, "ck": 1, "score": 2.5}';
        |INSERT INTO ks.jd JSON '{"pk": 2, "ck": 1, "score": -4}';
        |INSERT INTO ks.jdt JSON
        |  '{"pk": 1, "ck": 1, "day": "2020-03-01"}';
        |INSERT INTO ks.jdt JSON
        |  '{"pk": 2, "ck": 1, "day": "1969-12-31"}';
        |INSERT INTO ks.ju JSON '{"pk": 1, "ck": 1,
        |  "id": "123E4567-E89B-12D3-A456-426614174000"}';
        |INSERT INTO ks.jt JSON
        |  '{"pk": 1, "ck": 1, "at": "13:30:00.5"}'""".stripMargin,
      cat)
    def js(t: String, tag: String): DataFrame =
      cq(s"SELECT JSON pk, value FROM ks.$t")
        .select(lit(tag).as("tbl"), col("[json]").as("j"))
    js("jd", "d").unionAll(js("jdt", "dt")).unionAll(js("ju", "u"))
      .unionAll(js("jt", "t"))
      .orderBy(col("tbl"), col("j"))
  }

  private val typedJsonSql =
    """SELECT tbl, j
      |FROM (VALUES
      |  ('d', '{"pk":1,"value":2.5}'), ('d', '{"pk":2,"value":-4.0}'),
      |  ('dt', '{"pk":1,"value":"2020-03-01"}'),
      |  ('dt', '{"pk":2,"value":"1969-12-31"}'),
      |  ('t', '{"pk":1,"value":"13:30:00.500000000"}'),
      |  ('u', '{"pk":1,"value":' ||
      |    '"123e4567-e89b-12d3-a456-426614174000"}'))
      |  AS t(tbl, j)
      |ORDER BY tbl, j""".stripMargin

  // C55c — LWT over text-storage mapped value types (r15): the CAS
  // round generalizes to uuid/timeuuid/inet VALUES — statements'
  // literals parse through the declared grammar (a non-uuid string
  // refuses inside the round), conditions compare the canonical
  // rendering, and the [applied]=false row reports the current
  // canonical value.
  private def mappedLwtLifecycle(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_mlwt"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-mlwt-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    cq("CREATE KEYSPACE IF NOT EXISTS ks")
    cq("CREATE TABLE IF NOT EXISTS ks.mu (pk bigint, ck int, " +
      "col text, value uuid, wt bigint)")
    cq("TRUNCATE ks.mu")
    val miss = cq("INSERT INTO ks.mu (pk, ck, id) VALUES (1, 1, " +
      "123E4567-E89B-12D3-A456-426614174000) IF NOT EXISTS")
      .select(lit("1_miss").as("step"),
        col("[applied]").cast("string").as("v"))
    val hit = cq("INSERT INTO ks.mu (pk, ck, id) VALUES (1, 1, " +
      "00000000-0000-1000-8000-000000000002) IF NOT EXISTS")
      .select(lit("2_hit").as("step"),
        concat_ws("|", col("[applied]").cast("string"),
          col("current")).as("v"))
    val cas = cq("UPDATE ks.mu SET id = " +
      "00000000-0000-1000-8000-000000000009 WHERE pk = 1 AND ck = 1 " +
      "IF id = 123e4567-e89b-12d3-a456-426614174000")
      .select(lit("3_cas").as("step"),
        col("[applied]").cast("string").as("v"))
    // the verification SELECT is LAZY (it evaluates with the final
    // union), so the conditional DELETE targets a SEPARATE row —
    // pk 1's state is stable once the statements above ran
    val ver = cq("SELECT value FROM ks.mu WHERE pk = 1 AND ck = 1")
      .select(lit("4_value").as("step"), col("value").as("v"))
    cq("INSERT INTO ks.mu (pk, ck, id) VALUES (2, 1, " +
      "00000000-0000-1000-8000-00000000000a)")
    val del = cq("DELETE FROM ks.mu WHERE pk = 2 AND ck = 1 " +
      "IF id = 00000000-0000-1000-8000-00000000000a")
      .select(lit("5_del").as("step"),
        col("[applied]").cast("string").as("v"))
    val cnt = cq("SELECT count(*) AS n FROM ks.mu")
      .select(lit("6_count").as("step"), col("n").cast("string").as("v"))
    miss.unionAll(hit).unionAll(cas).unionAll(ver).unionAll(del)
      .unionAll(cnt).orderBy(col("step"))
  }

  private val mappedLwtSql =
    """SELECT step, v FROM (VALUES
      |  ('1_miss', 'true'),
      |  ('2_hit', 'false|123e4567-e89b-12d3-a456-426614174000'),
      |  ('3_cas', 'true'),
      |  ('4_value', '00000000-0000-1000-8000-000000000009'),
      |  ('5_del', 'true'), ('6_count', '1')) AS t(step, v)
      |ORDER BY step""".stripMargin

  // C65u — CQL aggregates over MAPPED value types (r15; tightened
  // r17): min/max on date compares the day-count storage (numeric
  // order IS date order), sum/avg on float ride the double storage
  // with CQL's widening, sum on decimal keeps the declared (18,6)
  // scale, max on time compares nanos-since-midnight — most mapped
  // storages preserve the declared ORDER. The two that don't:
  // duration refuses (not comparable), and TIMEUUID min/max compare
  // by the 60-bit TIME component via min_by/max_by (the canonical
  // text renders time-low first — text order is NOT time order);
  // sum/avg refuse on every non-numeric storage (no silent
  // cast-to-double nulls).
  private def mappedAggsLifecycle(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_maggs"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-maggs-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.ad (pk bigint, ck int,
        |  col text, value date, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.af (pk bigint, ck int,
        |  col text, value float, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.ac (pk bigint, ck int,
        |  col text, value decimal, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.at (pk bigint, ck int,
        |  col text, value time, wt bigint);
        |TRUNCATE ks.ad; TRUNCATE ks.af; TRUNCATE ks.ac; TRUNCATE ks.at;
        |INSERT INTO ks.ad (pk, ck, day) VALUES (1, 1, '2020-01-01');
        |INSERT INTO ks.ad (pk, ck, day) VALUES (2, 1, '2019-12-31');
        |INSERT INTO ks.ad (pk, ck, day) VALUES (3, 1, '2020-06-15');
        |INSERT INTO ks.af (pk, ck, x) VALUES (1, 1, 1.5);
        |INSERT INTO ks.af (pk, ck, x) VALUES (2, 1, 2.25);
        |INSERT INTO ks.af (pk, ck, x) VALUES (3, 1, -0.75);
        |INSERT INTO ks.ac (pk, ck, p) VALUES (1, 1, 1.1);
        |INSERT INTO ks.ac (pk, ck, p) VALUES (2, 1, 2.2);
        |INSERT INTO ks.at (pk, ck, t) VALUES (1, 1, '01:02:03');
        |INSERT INTO ks.at (pk, ck, t) VALUES (2, 1, '23:59:59')
        |""".stripMargin, cat)
    val dd = cq("SELECT min(value) AS lo, max(value) AS hi FROM ks.ad")
      .select(lit("date").as("tbl"),
        expr("date_from_unix_date(lo)").cast("string").as("a"),
        expr("date_from_unix_date(hi)").cast("string").as("b"))
    val ff = cq("SELECT sum(value) AS s, avg(value) AS a FROM ks.af")
      .select(lit("float").as("tbl"),
        col("s").cast("string").as("a"), col("a").cast("string").as("b"))
    val cc = cq("SELECT sum(value) AS s, count(*) AS n FROM ks.ac")
      .select(lit("decimal").as("tbl"),
        col("s").cast("string").as("a"), col("n").cast("string").as("b"))
    val tt = cq("SELECT min(value) AS lo, max(value) AS hi FROM ks.at")
      .select(lit("time").as("tbl"),
        col("lo").cast("string").as("a"), col("hi").cast("string").as("b"))
    // timeuuid (r17 tightening): min/max order by the 60-bit TIME
    // component, never the text — the fixture's TEXT order inverts
    // its TIME order (time 2^32 renders "00000000-0001-…", lexically
    // below time 2's "00000002-0000-…"), so a text-ordered engine
    // returns the swapped pair
    cq("CREATE TABLE IF NOT EXISTS ks.au (pk bigint, ck int, " +
      "col text, value timeuuid, wt bigint)")
    cq("TRUNCATE ks.au")
    cq("INSERT INTO ks.au (pk, ck, at) VALUES (1, 1, " +
      "00000000-0001-1000-8000-000000000001)") // time = 2^32
    cq("INSERT INTO ks.au (pk, ck, at) VALUES (2, 1, " +
      "00000002-0000-1000-8000-000000000001)") // time = 2
    val uu = cq("SELECT min(value) AS lo, max(value) AS hi FROM ks.au")
      .select(lit("timeuuid").as("tbl"),
        col("lo").cast("string").as("a"),
        col("hi").cast("string").as("b"))
    dd.unionAll(ff).unionAll(cc).unionAll(tt).unionAll(uu)
      .orderBy(col("tbl"))
  }

  private val mappedAggsSql =
    """SELECT tbl, a, b FROM (VALUES
      |  ('date', '2019-12-31', '2020-06-15'),
      |  ('decimal', '3.300000', '2'),
      |  ('float', '3.0', '1.0'),
      |  ('time', '3723000000000', '86399000000000'),
      |  ('timeuuid', '00000002-0000-1000-8000-000000000001',
      |   '00000000-0001-1000-8000-000000000001')) AS t(tbl, a, b)
      |ORDER BY tbl""".stripMargin

  // C65v — the ASCII value type as its own DECLARED type (r15): same
  // text storage, but a US-ASCII-validating literal grammar (a
  // non-ASCII character refuses with its code point — Cassandra
  // validates ascii on write) and the distinct name in
  // DESCRIBE/system_schema; LWT serves it (text-storage equality).
  private def asciiValuesLifecycle(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_ascii"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-ascii-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.a (pk bigint, ck int,
        |  col text, value ascii, wt bigint);
        |TRUNCATE ks.a;
        |INSERT INTO ks.a (pk, ck, tag) VALUES (1, 1, 'alpha');
        |UPDATE ks.a SET tag = 'beta' WHERE pk = 1 AND ck = 1;
        |INSERT INTO ks.a (pk, ck, tag) VALUES (2, 1, 'Type-7_OK!');
        |INSERT INTO ks.a (pk, ck, tag) VALUES (3, 1, 'gone');
        |DELETE tag FROM ks.a WHERE pk = 3 AND ck = 1""".stripMargin,
      cat)
    val rows = cq("SELECT pk, value FROM ks.a")
      .select(lit("v").as("step"), col("pk"), col("value").as("x"))
    val lwt = cq("INSERT INTO ks.a (pk, ck, tag) VALUES (4, 1, " +
      "'cas') IF NOT EXISTS")
      .select(lit("lwt").as("step"), lit(4L).as("pk"),
        col("[applied]").cast("string").as("x"))
    val ty = cq("SELECT type FROM system_schema.columns WHERE " +
      "table_name = 'a' AND column_name = 'value'")
      .select(lit("type").as("step"), lit(0L).as("pk"),
        col("type").as("x"))
    rows.unionAll(lwt).unionAll(ty).orderBy(col("step"), col("pk"))
  }

  // the rows SELECT is LAZY, so the eager LWT insert of pk 4 lands
  // in its output too (deliberate — it pins the CAS write's cell)
  private val asciiValuesSql =
    """SELECT step, CAST(pk AS BIGINT) AS pk, x FROM (VALUES
      |  ('lwt', 4, 'true'), ('type', 0, 'ascii'),
      |  ('v', 1, 'beta'), ('v', 2, 'Type-7_OK!'),
      |  ('v', 4, 'cas')) AS t(step, pk, x)
      |ORDER BY step, pk""".stripMargin

  // C36d — UUID-KEYED typed tables through the front door (r15):
  // `id uuid` key parts ride the CEL6 typed comparator as their text
  // storage; the unquoted canonical uuid literal binds them in every
  // statement (uppercase input canonicalizes to the same key), the
  // keyed CAS round serves Cassandra's canonical uuid-keyed
  // INSERT ... IF NOT EXISTS, and DESCRIBE renders `id uuid`.
  private def uuidKeysLifecycle(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_uuidkey"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-uuidkey-q").toString)
    }
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.ev (id uuid, seq int,
        |  col text, value bigint, wt bigint, PRIMARY KEY ((id), seq));
        |TRUNCATE ks.ev;
        |INSERT INTO ks.ev (id, seq, qty) VALUES
        |  (123e4567-e89b-12d3-a456-426614174000, 1, 10);
        |INSERT INTO ks.ev (id, seq, qty) VALUES
        |  (123E4567-E89B-12D3-A456-426614174000, 2, 20);
        |INSERT INTO ks.ev (id, seq, qty) VALUES
        |  (00000000-0000-1000-8000-000000000002, 1, 30);
        |UPDATE ks.ev SET qty = 11 WHERE
        |  id = 123e4567-e89b-12d3-a456-426614174000 AND seq = 1;
        |DELETE FROM ks.ev WHERE
        |  id = 123e4567-e89b-12d3-a456-426614174000 AND seq = 2;
        |INSERT INTO ks.ev (id, seq, qty) VALUES
        |  (00000000-0000-1000-8000-000000000002, 9, 90) IF NOT EXISTS;
        |INSERT INTO ks.ev (id, seq, qty) VALUES
        |  (00000000-0000-1000-8000-000000000002, 9, 91) IF NOT EXISTS;
        |SELECT id, seq, value FROM ks.ev""".stripMargin, cat)
      .orderBy(col("id"), col("seq"))
  }

  private val uuidKeysSql =
    """SELECT id, CAST(seq AS INT) AS seq, CAST(v AS BIGINT) AS value
      |FROM (VALUES
      |  ('00000000-0000-1000-8000-000000000002', 1, 30),
      |  ('00000000-0000-1000-8000-000000000002', 9, 90),
      |  ('123e4567-e89b-12d3-a456-426614174000', 1, 11))
      |  AS t(id, seq, v)
      |ORDER BY id, seq""".stripMargin

  // C70 — vector<float, n> + ANN search through the CQL front door
  // (r15): Cassandra 5's vector surface tied to the engine's ANN
  // machinery. Vectors store as 4n-byte IEEE-754 cells; `CREATE INDEX
  // (ann(v))` builds the LSH-bucket index (entry key = deterministic
  // hyperplane signs, a long — identity-token pruned probes);
  // `ORDER BY v ANN OF [..] LIMIT k` probes the query's bucket + its
  // Hamming neighbors and reranks candidates by EXACT cosine
  // (N_SIM9's two-stage trick — exactness on the candidate set makes
  // the result oracle-checkable: positive multiples of the query
  // share its bucket by construction and tie at cosine 1.0, broken
  // by pk).
  private def vectorAnnLifecycle(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_vec"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-vec-q").toString)
    }
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.emb (pk bigint, ck int,
        |  col text, value vector<float, 4>, wt bigint);
        |CREATE INDEX IF NOT EXISTS ON ks.emb (ann(v));
        |TRUNCATE ks.emb;
        |INSERT INTO ks.emb (pk, ck, v) VALUES (2, 1,
        |  [2.0, 1.0, 0.5, 0.25]);
        |INSERT INTO ks.emb (pk, ck, v) VALUES (3, 1,
        |  [3.0, 1.5, 0.75, 0.375]);
        |INSERT INTO ks.emb (pk, ck, v) VALUES (4, 1,
        |  [8.0, -4.0, 2.0, -1.0]);
        |UPDATE ks.emb SET v = [0.5, 0.25, 0.125, 0.0625]
        |  WHERE pk = 4 AND ck = 1;
        |INSERT INTO ks.emb (pk, ck, v) VALUES (5, 1,
        |  [-1.0, -0.5, -0.25, -0.125]);
        |INSERT INTO ks.emb (pk, ck, v) VALUES (6, 1,
        |  [1.0, 0.5, 0.25, 0.125]);
        |INSERT INTO ks.emb (pk, ck, v) VALUES (7, 1,
        |  [8.0, -4.0, 2.0, -1.0]);
        |SELECT pk FROM ks.emb ORDER BY v ANN OF
        |  [1.0, 0.5, 0.25, 0.125] LIMIT 4""".stripMargin, cat)
      .orderBy(col("pk"))
  }

  private val vectorAnnSql =
    """SELECT CAST(pk AS BIGINT) AS pk
      |FROM (VALUES (2), (3), (4), (6)) AS t(pk)
      |ORDER BY pk""".stripMargin

  // C70e — similarity functions in the select list (r17):
  // Cassandra 5's `similarity_cosine(v, [q…])` (+ euclidean /
  // dot_product) — the standard companion to ORDER BY v ANN OF
  // (reading each hit's score), also served on a bare key-restricted
  // read. Scores are Lucene's normalizations (what Cassandra
  // serves): cosine (1+cos)/2, dot (1+dot)/2, euclidean 1/(1+d²) —
  // all rendered through the SAME native codegen'd graft_cosine /
  // graft_dot expressions the ANN rerank ranks by, rounded like the
  // rank key. pk 2's vector is exactly 2× the query, so the scores
  // are closed-form: cos 1, dot (1+2.65625)/2, euclid 1/2.328125.
  private def similaritySelectLifecycle(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_simsel"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-simsel-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.emb (pk bigint, ck int,
        |  col text, value vector<float, 4>, wt bigint);
        |CREATE INDEX IF NOT EXISTS ON ks.emb (ann(v));
        |TRUNCATE ks.emb;
        |INSERT INTO ks.emb (pk, ck, v) VALUES (2, 1,
        |  [2.0, 1.0, 0.5, 0.25]);
        |INSERT INTO ks.emb (pk, ck, v) VALUES (3, 1,
        |  [3.0, 1.5, 0.75, 0.375]);
        |INSERT INTO ks.emb (pk, ck, v) VALUES (4, 1,
        |  [0.5, 0.25, 0.125, 0.0625]);
        |INSERT INTO ks.emb (pk, ck, v) VALUES (5, 1,
        |  [-1.0, -0.5, -0.25, -0.125])""".stripMargin, cat)
    val ann = cq("SELECT pk, similarity_cosine(v, " +
      "[1.0, 0.5, 0.25, 0.125]) AS score FROM ks.emb " +
      "ORDER BY v ANN OF [1.0, 0.5, 0.25, 0.125] LIMIT 3")
      .select(lit("ann").as("item"), col("pk"), col("score"))
    val bare = cq("SELECT pk, " +
      "similarity_cosine(v, [1.0, 0.5, 0.25, 0.125]) AS c, " +
      "similarity_dot_product(v, [1.0, 0.5, 0.25, 0.125]) AS d, " +
      "similarity_euclidean(v, [1.0, 0.5, 0.25, 0.125]) AS e " +
      "FROM ks.emb WHERE pk = 2 AND ck = 1")
      .selectExpr("pk",
        "stack(3, 'cos', c, 'dot', d, 'euc', e) AS (item, score)")
      .select(col("item"), col("pk"), col("score"))
    ann.unionAll(bare).orderBy(col("item"), col("pk"))
  }

  private val similaritySelectSql =
    """SELECT item, CAST(pk AS BIGINT) AS pk,
      |  CAST(score AS DOUBLE) AS score FROM (VALUES
      |  ('ann', 2, 1.0), ('ann', 3, 1.0), ('ann', 4, 1.0),
      |  ('cos', 2, 1.0), ('dot', 2, 1.828125),
      |  ('euc', 2, 0.42953)) AS t(item, pk, score)
      |ORDER BY item, pk""".stripMargin

  // C70b — partition-RESTRICTED ANN (r15): `WHERE pk = ? ORDER BY v
  // ANN OF [...] LIMIT k` — the restriction bounds the read exactly
  // (a pruned partition point read replaces the LSH probe; recall 1
  // within the slice), the rerank stays exact cosine, and the index
  // must still exist (Cassandra's planner rule).
  private def restrictedAnnLifecycle(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_rvec"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-rvec-q").toString)
    }
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.emb (pk bigint, ck int,
        |  col text, value vector<float, 4>, wt bigint);
        |CREATE INDEX IF NOT EXISTS ON ks.emb (ann(v));
        |TRUNCATE ks.emb;
        |INSERT INTO ks.emb (pk, ck, v) VALUES (1, 1,
        |  [1.0, 0.5, 0.25, 0.125]);
        |INSERT INTO ks.emb (pk, ck, v) VALUES (1, 2,
        |  [-1.0, -0.5, -0.25, -0.125]);
        |INSERT INTO ks.emb (pk, ck, v) VALUES (1, 3,
        |  [0.5, 1.0, -0.25, 0.125]);
        |INSERT INTO ks.emb (pk, ck, v) VALUES (2, 1,
        |  [2.0, 1.0, 0.5, 0.25]);
        |INSERT INTO ks.emb (pk, ck, v) VALUES (3, 1,
        |  [1.0, 0.5, 0.25, 0.126]);
        |SELECT pk, ck FROM ks.emb WHERE pk = 1 ORDER BY v ANN OF
        |  [1.0, 0.5, 0.25, 0.125] LIMIT 2""".stripMargin, cat)
      .orderBy(col("pk"), col("ck"))
  }

  // partition 1's vectors rank ck=1 (cosine 1.0) then ck=3; the
  // better match in partition 3 is excluded by the restriction
  private val restrictedAnnSql =
    """SELECT CAST(pk AS BIGINT) AS pk, CAST(ck AS INT) AS ck
      |FROM (VALUES (1, 1), (1, 3)) AS t(pk, ck)
      |ORDER BY pk, ck""".stripMargin

  // C70c — FILTERED ANN (r16): Cassandra 5's SAI + vector shape,
  // `WHERE <indexed col> = ? ORDER BY v ANN OF [..] LIMIT k`. The
  // restriction resolves through the column's OWN secondary index to
  // a row set FIRST (FAISS IDSelector PRE-filter semantics, the
  // N_SIM12 rule through the front door), then the slice's vectors
  // rerank by exact cosine — never post-filtering a short k-list.
  // pk 1 ties the best cosine but carries the OTHER tag: a
  // post-filter over a global top-k would surface it first and then
  // drop it, under-filling k; pre-filter returns exactly the
  // matching rows ranked 2 (cos 1.0), 3, 4 (cos -1.0).
  private def filteredAnnLifecycle(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_fvec"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-fvec-q").toString)
    }
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.emb (pk bigint, ck int,
        |  col text, value vector<float, 4>, wt bigint);
        |CREATE INDEX IF NOT EXISTS ON ks.emb (ann(v));
        |CREATE INDEX IF NOT EXISTS ON ks.emb (tag);
        |TRUNCATE ks.emb;
        |INSERT INTO ks.emb (pk, ck, v) VALUES (1, 1,
        |  [1.0, 0.5, 0.25, 0.125]);
        |INSERT INTO ks.emb (pk, ck, tag) VALUES (1, 1,
        |  [1.0, 0.0, 0.0, 0.0]);
        |INSERT INTO ks.emb (pk, ck, v) VALUES (2, 1,
        |  [2.0, 1.0, 0.5, 0.25]);
        |INSERT INTO ks.emb (pk, ck, tag) VALUES (2, 1,
        |  [0.0, 1.0, 0.0, 0.0]);
        |INSERT INTO ks.emb (pk, ck, v) VALUES (3, 1,
        |  [0.5, 1.0, -0.25, 0.125]);
        |INSERT INTO ks.emb (pk, ck, tag) VALUES (3, 1,
        |  [0.0, 1.0, 0.0, 0.0]);
        |INSERT INTO ks.emb (pk, ck, v) VALUES (4, 1,
        |  [-1.0, -0.5, -0.25, -0.125]);
        |INSERT INTO ks.emb (pk, ck, tag) VALUES (4, 1,
        |  [0.0, 1.0, 0.0, 0.0]);
        |SELECT pk FROM ks.emb WHERE tag = [0.0, 1.0, 0.0, 0.0]
        |  ORDER BY v ANN OF [1.0, 0.5, 0.25, 0.125] LIMIT 3"""
        .stripMargin, cat)
      .orderBy(col("pk"))
  }

  private val filteredAnnSql =
    """SELECT CAST(pk AS BIGINT) AS pk
      |FROM (VALUES (2), (3), (4)) AS t(pk)
      |ORDER BY pk""".stripMargin

  // C55d — LWT OPERATOR conditions (r16): Cassandra's full IF
  // grammar — `!=` (an ABSENT cell IS not-equal, the null rule),
  // the ordered comparisons over bigint cells (absent compares
  // FALSE), and `IN (..)` with members through the table's grammar.
  // The lifecycle's counter only moves when its guard holds, so the
  // final value pins every operator's semantics.
  private def lwtOperatorsLifecycle(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_c55d"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-c55d-q").toString)
    }
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.t (pk bigint, ck int,
        |  col text, value bigint, wt bigint);
        |TRUNCATE ks.t;
        |INSERT INTO ks.t (pk, ck, n) VALUES (1, 1, 10);
        |UPDATE ks.t SET n = 11 WHERE pk = 1 AND ck = 1 IF n > 5;
        |UPDATE ks.t SET n = 99 WHERE pk = 1 AND ck = 1 IF n < 11;
        |UPDATE ks.t SET n = 12 WHERE pk = 1 AND ck = 1 IF n <= 11;
        |UPDATE ks.t SET n = 13 WHERE pk = 1 AND ck = 1 IF n != 99;
        |UPDATE ks.t SET n = 77 WHERE pk = 1 AND ck = 1 IF n != 13;
        |UPDATE ks.t SET n = 14 WHERE pk = 1 AND ck = 1
        |  IF n IN (12, 13);
        |UPDATE ks.t SET n = 88 WHERE pk = 1 AND ck = 1 IF n IN ();
        |UPDATE ks.t SET n = 1 WHERE pk = 2 AND ck = 1 IF n != 7;
        |UPDATE ks.t SET n = 1 WHERE pk = 3 AND ck = 1 IF n > 0;
        |SELECT pk, value FROM ks.t""".stripMargin, cat)
      .orderBy(col("pk"))
  }

  // pk 1 walks 10 -> 11 (>5) -> 12 (<=11) -> 13 (!=99) -> 14 (IN);
  // the guarded 99/77/88 writes never apply; pk 2 exists via the
  // absent-cell != rule; pk 3 never does (absent < > compare false)
  private val lwtOperatorsSql =
    """SELECT CAST(pk AS BIGINT) AS pk, CAST(value AS BIGINT) AS value
      |FROM (VALUES (1, 14), (2, 1)) AS t(pk, value)
      |ORDER BY pk""".stripMargin

  // C55h — ordered LWT conditions in the DECLARED type's order
  // (r18): `IF c > ?` on text-storage mapped types decodes then
  // compares — a timeuuid by its 60-bit time (its canonical text
  // does NOT sort by time), an inet by its address bytes ('9.0.0.0'
  // sorts below '10.0.0.0' numerically, above it textually) — and
  // timestamp-valued tables ride the whole LWT round as instants.
  // Each table walks a guarded state machine whose wrong-order
  // branches never apply, so the final state pins the order used.
  private def lwtOrderedMapped(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_c55h"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-c55h-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.tu (pk bigint, ck int, col text,
        |  value timeuuid, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.ip (pk bigint, ck int, col text,
        |  value inet, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.ts (pk bigint, ck int, col text,
        |  value timestamp, wt bigint);
        |TRUNCATE ks.tu;
        |TRUNCATE ks.ip;
        |TRUNCATE ks.ts;
        |INSERT INTO ks.tu (pk, ck, id)
        |  VALUES (1, 1, 00000001-0000-1000-8000-000000000000);
        |UPDATE ks.tu SET id = 00000000-0001-1000-8000-000000000000
        |  WHERE pk = 1 AND ck = 1
        |  IF id < 00000000-0001-1000-8000-000000000000;
        |UPDATE ks.tu SET id = 00000000-0000-1001-8000-000000000000
        |  WHERE pk = 1 AND ck = 1
        |  IF id > 00000001-0000-1000-8000-000000000000;
        |UPDATE ks.tu SET id = 99999999-9999-1999-8999-999999999999
        |  WHERE pk = 1 AND ck = 1
        |  IF id < 00000001-0000-1000-8000-000000000000;
        |INSERT INTO ks.ip (pk, ck, addr) VALUES (1, 1, '9.0.0.0');
        |UPDATE ks.ip SET addr = '10.0.0.0' WHERE pk = 1 AND ck = 1
        |  IF addr < '10.0.0.0';
        |UPDATE ks.ip SET addr = '1.1.1.1' WHERE pk = 1 AND ck = 1
        |  IF addr > '200.0.0.0';
        |UPDATE ks.ip SET addr = 'ffff::1' WHERE pk = 1 AND ck = 1
        |  IF addr >= '10.0.0.0';
        |INSERT INTO ks.ts (pk, ck, seen)
        |  VALUES (1, 1, '2020-06-01T12:00:00Z') IF NOT EXISTS;
        |UPDATE ks.ts SET seen = '2021-01-01T00:00:00Z'
        |  WHERE pk = 1 AND ck = 1 IF seen < '2020-06-02T00:00:00Z';
        |UPDATE ks.ts SET seen = '1999-01-01T00:00:00Z'
        |  WHERE pk = 1 AND ck = 1 IF seen > '2021-06-01T00:00:00Z';
        |UPDATE ks.ts SET seen = 86400000
        |  WHERE pk = 1 AND ck = 1 IF seen <= '2021-01-01T00:00:00Z'
        |""".stripMargin, cat)
    val tu = cq("SELECT pk, value FROM ks.tu WHERE pk = 1 AND ck = 1")
      .select(lit("timeuuid").as("item"), col("pk"),
        col("value").as("v"))
    val ip = cq("SELECT pk, value FROM ks.ip WHERE pk = 1 AND ck = 1")
      .select(lit("inet").as("item"), col("pk"), col("value").as("v"))
    val ts = cq("SELECT pk, value FROM ks.ts WHERE pk = 1 AND ck = 1")
      .select(lit("timestamp").as("item"), col("pk"),
        unix_millis(col("value")).cast("string").as("v"))
    tu.unionAll(ip).unionAll(ts).orderBy("item")
  }

  // the guarded wrong-order branches never fire: timeuuid ends at
  // the time_hi bump (time 2^48), inet at ffff::1, timestamp at
  // epoch+1d (the 86400000-millis literal)
  private val lwtOrderedMappedSql =
    """SELECT item, CAST(pk AS BIGINT) AS pk, v
      |FROM (VALUES
      |  ('inet', 1, 'ffff::1'),
      |  ('timestamp', 1, '86400000'),
      |  ('timeuuid', 1, '00000000-0000-1001-8000-000000000000'))
      |  AS t(item, pk, v)
      |ORDER BY item""".stripMargin

  // C55i — LWT on frozen<udt>-valued tables (r18): whole-value
  // equality (packed-blob compare — Cassandra's frozen<> equality),
  // IN, row presence and conditional DELETE all ride the CAS round;
  // the old table-wide refusal is scoped to the genuinely
  // unservable shapes (ordered blob compare, non-frozen layouts).
  // The guarded wrong-value writes never fire, so the final state
  // pins the semantics.
  private def udtLwtLifecycle(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_c55i"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-c55i-q").toString)
    }
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TYPE IF NOT EXISTS ks.pt (q bigint, t text);
        |CREATE TABLE IF NOT EXISTS ks.o (pk bigint, ck int, col text,
        |  value frozen<pt>, wt bigint);
        |TRUNCATE ks.o;
        |INSERT INTO ks.o (pk, ck, v) VALUES (1, 1, {q: 10, t: 'a'})
        |  IF NOT EXISTS;
        |INSERT INTO ks.o (pk, ck, v) VALUES (1, 1, {q: 99, t: 'z'})
        |  IF NOT EXISTS;
        |UPDATE ks.o SET v = {q: 11, t: 'b'} WHERE pk = 1 AND ck = 1
        |  IF v = {q: 10, t: 'a'};
        |UPDATE ks.o SET v = {q: 77, t: 'x'} WHERE pk = 1 AND ck = 1
        |  IF v = {q: 10, t: 'a'};
        |UPDATE ks.o SET v = {q: 12, t: 'c'} WHERE pk = 1 AND ck = 1
        |  IF v IN ({q: 11, t: 'b'}, {q: 1, t: 'q'});
        |UPDATE ks.o SET v = {q: 13, t: 'd'} WHERE pk = 1 AND ck = 1
        |  IF v = {q: 12, t: 'c'} AND v != {q: 0, t: 'n'};
        |INSERT INTO ks.o (pk, ck, v) VALUES (2, 1, {q: 20, t: 'x'})
        |  IF NOT EXISTS;
        |DELETE FROM ks.o WHERE pk = 2 AND ck = 1
        |  IF v = {q: 20, t: 'x'};
        |SELECT pk, ck, v.q AS q, v.t AS t FROM ks.o""".stripMargin,
      cat).orderBy(col("pk"), col("ck"))
  }

  private val udtLwtSql =
    """SELECT CAST(pk AS BIGINT) AS pk, CAST(ck AS INT) AS ck,
      |  CAST(q AS BIGINT) AS q, t
      |FROM (VALUES (1, 1, 13, 'd')) AS x(pk, ck, q, t)
      |ORDER BY pk, ck""".stripMargin

  // C55j — LWT over EVERY declared scalar value type (r18):
  // Cassandra serves conditions on all of them, so the old
  // bigint/text-only gate is gone — date/smallint/tinyint (int
  // storage), varint/time (bigint storage), float/decimal, the C65q
  // double/boolean scalars and 0x blobs all ride the CAS round
  // through their DECLARED grammars, ordered comparisons in each
  // type's own order. Guarded wrong-order writes never fire; the
  // final state pins the semantics per type.
  private def lwtScalarTypes(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_c55j"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-c55j-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.dt (pk bigint, ck int, col text,
        |  value date, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.de (pk bigint, ck int, col text,
        |  value decimal, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.bo (pk bigint, ck int, col text,
        |  value boolean, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.bl (pk bigint, ck int, col text,
        |  value blob, wt bigint);
        |TRUNCATE ks.dt;
        |TRUNCATE ks.de;
        |TRUNCATE ks.bo;
        |TRUNCATE ks.bl;
        |INSERT INTO ks.dt (pk, ck, d) VALUES (1, 1, '2024-03-01')
        |  IF NOT EXISTS;
        |UPDATE ks.dt SET d = '2024-04-01' WHERE pk = 1 AND ck = 1
        |  IF d < '2024-03-15';
        |UPDATE ks.dt SET d = '1999-01-01' WHERE pk = 1 AND ck = 1
        |  IF d > '2024-04-01';
        |INSERT INTO ks.de (pk, ck, amt) VALUES (1, 1, 1.50)
        |  IF NOT EXISTS;
        |UPDATE ks.de SET amt = 2.25 WHERE pk = 1 AND ck = 1
        |  IF amt = 1.5;
        |UPDATE ks.de SET amt = 9 WHERE pk = 1 AND ck = 1
        |  IF amt < 2.25;
        |INSERT INTO ks.bo (pk, ck, flag) VALUES (1, 1, false)
        |  IF NOT EXISTS;
        |UPDATE ks.bo SET flag = true WHERE pk = 1 AND ck = 1
        |  IF flag < true;
        |INSERT INTO ks.bl (pk, ck, b) VALUES (1, 1, 0x0a0b)
        |  IF NOT EXISTS;
        |UPDATE ks.bl SET b = 0xff01 WHERE pk = 1 AND ck = 1
        |  IF b = 0x0a0b;
        |UPDATE ks.bl SET b = 0x00 WHERE pk = 1 AND ck = 1
        |  IF b < 0x0aff
        |""".stripMargin, cat)
    val dt = cq("SELECT pk, value FROM ks.dt WHERE pk = 1 AND ck = 1")
      .select(lit("date").as("item"), col("pk"),
        col("value").cast("string").as("v"))
    val de = cq("SELECT pk, value FROM ks.de WHERE pk = 1 AND ck = 1")
      .select(lit("decimal").as("item"), col("pk"),
        col("value").cast("string").as("v"))
    val bo = cq("SELECT pk, value FROM ks.bo WHERE pk = 1 AND ck = 1")
      .select(lit("boolean").as("item"), col("pk"),
        col("value").cast("string").as("v"))
    val bl = cq("SELECT pk, value FROM ks.bl WHERE pk = 1 AND ck = 1")
      .select(lit("blob").as("item"), col("pk"),
        lower(hex(col("value"))).as("v"))
    dt.unionAll(de).unionAll(bo).unionAll(bl).orderBy("item")
  }

  // date ends at the applied < branch (the > guard misses); decimal
  // at 2.25 (the < guard misses); boolean flips to true; the blob's
  // ordered guard misses (ff01 > 0aff), so equality's write stands
  private val lwtScalarTypesSql =
    """SELECT item, CAST(pk AS BIGINT) AS pk, v
      |FROM (VALUES
      |  ('blob', 1, 'ff01'),
      |  ('boolean', 1, 'true'),
      |  ('date', 1, '19814'),
      |  ('decimal', 1, '2.250000')) AS t(item, pk, v)
      |ORDER BY item""".stripMargin

  // C11j — map ENTRY conditions and writes in LWT (r18): on a
  // DECLARED map<text, T> table the entry key IS the cell col name,
  // so `IF m['k'] = v` conditions, `SET m['k'] = v` puts,
  // conditional entry deletes, and `INSERT {…} IF NOT EXISTS`
  // (row-absence makes the replace's clear set empty — the entry
  // puts ride one casBatch round) all serve through the ordinary
  // CAS machinery with the ELEMENT type's grammar. Guarded
  // wrong-value writes never fire.
  private def mapEntryLwt(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_c11j"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-c11j-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.m (pk bigint, ck int, col text,
        |  value map<text, bigint>, wt bigint);
        |TRUNCATE ks.m;
        |INSERT INTO ks.m (pk, ck, m) VALUES (1, 1, {'a': 1, 'b': 2})
        |  IF NOT EXISTS;
        |INSERT INTO ks.m (pk, ck, m) VALUES (1, 1, {'z': 9})
        |  IF NOT EXISTS;
        |UPDATE ks.m SET m['a'] = 10 WHERE pk = 1 AND ck = 1
        |  IF m['b'] = 2;
        |UPDATE ks.m SET m['a'] = 99 WHERE pk = 1 AND ck = 1
        |  IF m['b'] = 7;
        |UPDATE ks.m SET m['c'] = 3 WHERE pk = 1 AND ck = 1
        |  IF m['a'] > 5;
        |UPDATE ks.m SET m['d'] = 4 WHERE pk = 1 AND ck = 1
        |  IF m['nope'] != 7;
        |DELETE m['d'] FROM ks.m WHERE pk = 1 AND ck = 1
        |  IF m['d'] = 4;
        |DELETE m['c'] FROM ks.m WHERE pk = 1 AND ck = 1
        |  IF m['c'] = 99
        |""".stripMargin, cat)
    cq("SELECT pk, ck, m FROM ks.m WHERE pk = 1 AND ck = 1")
      .select(col("pk"), col("ck"),
        expr("array_join(transform(array_sort(map_entries(m)), " +
          "e -> concat(e.key, '=', e.value)), '|')").as("v"))
  }

  // a=10 (guarded by b=2), b=2, c=3 (a>5) survive; d put then
  // conditionally deleted; the guarded 99-writes and the second
  // INSERT never fire
  private val mapEntryLwtSql =
    """SELECT CAST(pk AS BIGINT) AS pk, CAST(ck AS INT) AS ck, v
      |FROM (VALUES (1, 1, 'a=10|b=2|c=3')) AS t(pk, ck, v)""".stripMargin

  // C11k — whole-collection equality conditions + collection writes
  // under IF (r18): `IF tags = {…}` (set semantics, order-free),
  // `IF l = […]` (list semantics, ordered), `IF m = {…}` (the bound
  // row's entries) gate STAGED collection updates riding one
  // casBatch round; scalar conditions gate collection appends too.
  // Guarded wrong-state writes never fire.
  private def collEqLwt(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_c11k"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-c11k-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.s (pk bigint, ck int, col text,
        |  value set<bigint>, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.l (pk bigint, ck int, col text,
        |  value list<bigint>, wt bigint);
        |TRUNCATE ks.s;
        |TRUNCATE ks.l;
        |UPDATE ks.s SET tags = tags + {1, 2} WHERE pk = 1;
        |UPDATE ks.s SET tags = tags + {3} WHERE pk = 1
        |  IF tags = {2, 1};
        |UPDATE ks.s SET tags = tags + {9} WHERE pk = 1
        |  IF tags = {1, 2};
        |UPDATE ks.s SET tags = tags - {1} WHERE pk = 1
        |  IF tags != {1, 2};
        |UPDATE ks.l SET l = l + [10, 20] WHERE pk = 1;
        |UPDATE ks.l SET l = l + [30] WHERE pk = 1 IF l = [20, 10];
        |UPDATE ks.l SET l = l + [40] WHERE pk = 1 IF l = [10, 20];
        |UPDATE ks.l SET l = l + [1] WHERE pk = 2 IF l = []
        |""".stripMargin, cat)
    val st = cq("SELECT pk, tags FROM ks.s WHERE pk = 1")
      .select(lit("set").as("item"), col("pk"),
        array_join(col("tags").cast("array<string>"), "|").as("v"))
    val ls = cq("SELECT pk, l FROM ks.l ORDER BY pk")
      .select(lit("list").as("item"), col("pk"),
        array_join(col("l").cast("array<string>"), "|").as("v"))
    st.unionAll(ls).orderBy("item", "pk")
  }

  // set walks {1,2}→{1,2,3} (order-free hit) →{2,3} (!= hit; the {9}
  // guard missed); list appends 40 on the ordered hit (the [20,10]
  // guard missed); pk 2 exists via the empty-equals-absent rule
  private val collEqLwtSql =
    """SELECT item, CAST(pk AS BIGINT) AS pk, v
      |FROM (VALUES
      |  ('list', 1, '10|20|40'),
      |  ('list', 2, '1'),
      |  ('set', 1, '2|3')) AS t(item, pk, v)
      |ORDER BY item, pk""".stripMargin

  // C55e — MULTI-condition LWT + conditions on NON-SET columns
  // (r16): every condition tested against the row's current state
  // under ONE ballot; the write applies only when ALL hold. The
  // state machine below only advances when its owner AND state
  // guards both hold, so the final state pins the semantics.
  private def lwtMultiLifecycle(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_c55e"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-c55e-q").toString)
    }
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.t (pk bigint, ck int,
        |  col text, value bigint, wt bigint);
        |TRUNCATE ks.t;
        |INSERT INTO ks.t (pk, ck, state, owner) VALUES (1, 1, 1, 7);
        |UPDATE ks.t SET state = 2 WHERE pk = 1 AND ck = 1
        |  IF owner = 7;
        |UPDATE ks.t SET state = 9 WHERE pk = 1 AND ck = 1
        |  IF owner = 8;
        |UPDATE ks.t SET state = 3 WHERE pk = 1 AND ck = 1
        |  IF state = 2 AND owner = 7;
        |UPDATE ks.t SET state = 9 WHERE pk = 1 AND ck = 1
        |  IF state = 3 AND owner != 7;
        |UPDATE ks.t SET state = 4 WHERE pk = 1 AND ck = 1
        |  IF owner >= 7 AND state < 9 AND retries != 0;
        |SELECT pk, col, value FROM ks.t""".stripMargin, cat)
      .orderBy(col("pk"), col("col"))
  }

  private val lwtMultiSql =
    """SELECT CAST(pk AS BIGINT) AS pk, col,
      |  CAST(value AS BIGINT) AS value
      |FROM (VALUES (1, 'owner', 7), (1, 'state', 4)) AS t(pk, col,
      |  value)
      |ORDER BY pk, col""".stripMargin

  // C64d — the ENTRIES(map) index (r16): Cassandra's map-entry 2i.
  // Entry cells are (col = key, value) pairs in the C12 row-is-the-
  // map encoding; the index keys each pair as ONE C59-packed binary
  // typed partition key, so `m['k'] = v` probes as a single typed
  // point read (hash-routed, Summary/bloom pruned) and the base
  // re-read drops overwritten entries — pk 1's color was rewritten
  // 1 → 9 AFTER the index build (write-through refreshed it), so
  // the 'color' = 1 probe returns nothing and 9 returns pk 1.
  private def entriesIndexLifecycle(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_c64d"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-c64d-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.m (pk bigint, ck int,
        |  col text, value bigint, wt bigint);
        |CREATE INDEX IF NOT EXISTS ON ks.m (entries(m));
        |TRUNCATE ks.m;
        |UPDATE ks.m SET m['color'] = 1 WHERE pk = 1 AND ck = 1;
        |UPDATE ks.m SET m['color'] = 2 WHERE pk = 2 AND ck = 1;
        |UPDATE ks.m SET m['size'] = 1 WHERE pk = 3 AND ck = 1;
        |UPDATE ks.m SET m['color'] = 2 WHERE pk = 4 AND ck = 1;
        |UPDATE ks.m SET m['color'] = 9 WHERE pk = 1 AND ck = 1
        |""".stripMargin, cat)
    cq("SELECT pk, value FROM ks.m WHERE m['color'] = 2")
      .select(lit("c2").as("probe"), col("pk"), col("value"))
      .unionAll(cq("SELECT pk, value FROM ks.m WHERE m['color'] = 1")
        .select(lit("c1").as("probe"), col("pk"), col("value")))
      .unionAll(cq("SELECT pk, value FROM ks.m WHERE m['color'] = 9")
        .select(lit("c9").as("probe"), col("pk"), col("value")))
      .orderBy(col("probe"), col("pk"))
  }

  private val entriesIndexSql =
    """SELECT probe, CAST(pk AS BIGINT) AS pk,
      |  CAST(value AS BIGINT) AS value
      |FROM (VALUES
      |  ('c2', 2, 2), ('c2', 4, 2),
      |  ('c9', 1, 9)) AS t(probe, pk, value)
      |ORDER BY probe, pk""".stripMargin

  // C65z — DECLARED collection column types (r16): the everyday
  // Cassandra spellings `set<inet>` / `list<uuid>` / `map<text,
  // date>` as the VALUE column's declared type — storage is the
  // ELEMENT type's layout (the C65x machinery unchanged), the
  // declared KIND gates the write forms (a list append on a set
  // column refuses with Cassandra's own type-error shape), and
  // DESCRIBE renders the collection spelling round-trippably.
  private def declaredCollectionsLifecycle(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_c65z"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-c65z-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.si (pk bigint, ck int,
        |  col text, value set<inet>, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.lu (pk bigint, ck int,
        |  col text, value list<uuid>, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.md (pk bigint, ck int,
        |  col text, value map<text, date>, wt bigint);
        |TRUNCATE ks.si; TRUNCATE ks.lu; TRUNCATE ks.md;
        |UPDATE ks.si SET ips = ips + {'10.0.0.1', '10.0.0.2'}
        |  WHERE pk = 1;
        |UPDATE ks.si SET ips = ips - {'10.0.0.2'} WHERE pk = 1;
        |UPDATE ks.lu SET xs = xs +
        |  [00000000-0000-1000-8000-000000000002,
        |   00000000-0000-1000-8000-000000000001] WHERE pk = 1;
        |UPDATE ks.md SET m['start'] = '1970-01-02'
        |  WHERE pk = 1 AND ck = 1;
        |UPDATE ks.md SET m = m + {'end': '1969-12-31'}
        |  WHERE pk = 1 AND ck = 1;
        |DELETE start FROM ks.md WHERE pk = 1 AND ck = 1
        |""".stripMargin, cat)
    cq("SELECT pk, ck, col, value FROM ks.si")
      .select(lit("si").as("tbl"), col("pk"), col("ck"),
        col("col").as("k"), col("value").cast("string").as("v"))
      .unionAll(cq("SELECT pk, ck, col, value FROM ks.lu")
        .select(lit("lu").as("tbl"), col("pk"), col("ck"),
          col("col").as("k"), col("value").cast("string").as("v")))
      .unionAll(cq("SELECT pk, ck, col, value FROM ks.md")
        .select(lit("md").as("tbl"), col("pk"), col("ck"),
          col("col").as("k"), col("value").cast("string").as("v")))
      .orderBy(col("tbl"), col("pk"), col("ck"), col("k"), col("v"))
  }

  // list cks preserve APPEND order, so the two uuids keep their
  // written order (ck 1 then 2); the removed inet and the deleted
  // map entry never surface
  private val declaredCollectionsSql =
    """SELECT tbl, CAST(pk AS BIGINT) AS pk, CAST(ck AS INT) AS ck,
      |  k, v
      |FROM (VALUES
      |  ('lu', 1, 1, 'xs', '00000000-0000-1000-8000-000000000002'),
      |  ('lu', 1, 2, 'xs', '00000000-0000-1000-8000-000000000001'),
      |  ('md', 1, 1, 'end', '-1'),
      |  ('si', 1, 1, 'ips', '10.0.0.1')) AS t(tbl, pk, ck, k, v)
      |ORDER BY tbl, pk, ck, k, v""".stripMargin

  // C65y — CAST over MAPPED declared types (r16): Cassandra's CAST
  // matrix applied to DECLARED semantics, never the storage
  // rendering — CAST(value AS text) on a date table prints the ISO
  // date (not the stored day count), time prints the fixed-width
  // HH:MM:SS.fffffffff, uuid its canonical text; the numeric-storage
  // mapped types cast as numbers (decimal truncates toward zero for
  // int, renders its declared (18,6) scale for text).
  private def mappedCastLifecycle(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_c65y"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-c65y-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.mdt (pk bigint, ck int,
        |  col text, value date, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.mtm (pk bigint, ck int,
        |  col text, value time, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.mu (pk bigint, ck int,
        |  col text, value uuid, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.mdc (pk bigint, ck int,
        |  col text, value decimal, wt bigint);
        |TRUNCATE ks.mdt; TRUNCATE ks.mtm; TRUNCATE ks.mu;
        |TRUNCATE ks.mdc;
        |INSERT INTO ks.mdt (pk, ck, day) VALUES (1, 1, '2024-01-29');
        |INSERT INTO ks.mdt (pk, ck, day) VALUES (2, 1, '1969-12-31');
        |INSERT INTO ks.mtm (pk, ck, at) VALUES (1, 1, '01:02:03.5');
        |INSERT INTO ks.mu (pk, ck, id) VALUES (1, 1,
        |  123E4567-E89B-12D3-A456-426614174000);
        |INSERT INTO ks.mdc (pk, ck, price) VALUES (1, 1, -12.9)
        |""".stripMargin, cat)
    cq("SELECT pk, CAST(value AS text) AS v FROM ks.mdt")
      .select(lit("dt").as("tbl"), col("pk"), col("v"))
      .unionAll(cq("SELECT pk, CAST(value AS text) AS v FROM ks.mtm")
        .select(lit("tm").as("tbl"), col("pk"), col("v")))
      .unionAll(cq("SELECT pk, CAST(value AS text) AS v FROM ks.mu")
        .select(lit("u").as("tbl"), col("pk"), col("v")))
      .unionAll(cq("SELECT pk, CAST(value AS int) AS i FROM ks.mdc")
        .select(lit("dc").as("tbl"), col("pk"),
          col("i").cast("string").as("v")))
      .orderBy(col("tbl"), col("pk"))
  }

  private val mappedCastSql =
    """SELECT tbl, CAST(pk AS BIGINT) AS pk, v
      |FROM (VALUES
      |  ('dc', 1, '-12'),
      |  ('dt', 1, '2024-01-29'), ('dt', 2, '1969-12-31'),
      |  ('tm', 1, '01:02:03.500000000'),
      |  ('u', 1, '123e4567-e89b-12d3-a456-426614174000'))
      |  AS t(tbl, pk, v)
      |ORDER BY tbl, pk""".stripMargin

  // C70d — VECTOR TABLES OVER TYPED LAYOUTS (r16): the production
  // embedding-store shape `id uuid PRIMARY KEY, v vector<float, n>`.
  // Vector cells ride the typed binary write path (C59c's valueType
  // plumbing), the ann index derives entries over the typed base
  // (C18g's typed key in the entry value slot), and the ANN rerank
  // tie-breaks by the table's OWN named key parts. The overwrite and
  // tombstone below pin typed LWW and the binary marker shape.
  private def typedVectorAnnLifecycle(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_tvec"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-tvec-q").toString)
    }
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.emb (id uuid, col text,
        |  value vector<float, 4>, wt bigint, PRIMARY KEY ((id)));
        |CREATE INDEX IF NOT EXISTS ON ks.emb (ann(v));
        |TRUNCATE ks.emb;
        |INSERT INTO ks.emb (id, v) VALUES
        |  (00000000-0000-1000-8000-000000000002,
        |   [2.0, 1.0, 0.5, 0.25]);
        |INSERT INTO ks.emb (id, v) VALUES
        |  (00000000-0000-1000-8000-000000000003,
        |   [3.0, 1.5, 0.75, 0.375]);
        |INSERT INTO ks.emb (id, v) VALUES
        |  (00000000-0000-1000-8000-000000000004,
        |   [8.0, -4.0, 2.0, -1.0]);
        |UPDATE ks.emb SET v = [0.5, 0.25, 0.125, 0.0625]
        |  WHERE id = 00000000-0000-1000-8000-000000000004;
        |INSERT INTO ks.emb (id, v) VALUES
        |  (00000000-0000-1000-8000-000000000005,
        |   [-1.0, -0.5, -0.25, -0.125]);
        |INSERT INTO ks.emb (id, v) VALUES
        |  (00000000-0000-1000-8000-000000000006,
        |   [1.0, 0.5, 0.25, 0.125]);
        |DELETE v FROM ks.emb
        |  WHERE id = 00000000-0000-1000-8000-000000000006;
        |SELECT id FROM ks.emb ORDER BY v ANN OF
        |  [1.0, 0.5, 0.25, 0.125] LIMIT 4""".stripMargin, cat)
      .orderBy(col("id"))
  }

  // positive multiples of the query share its bucket and tie at
  // cosine 1.0 (ties break by id); the deleted id 6 must not
  // resurface; the negation (id 5) is outside the probe ball
  private val typedVectorAnnSql =
    """SELECT id
      |FROM (VALUES
      |  ('00000000-0000-1000-8000-000000000002'),
      |  ('00000000-0000-1000-8000-000000000003'),
      |  ('00000000-0000-1000-8000-000000000004')) AS t(id)
      |ORDER BY id""".stripMargin

  // C56e — CONDITIONAL BATCH over text-storage value types (r16):
  // the C56d single-partition CAS round generalized to the SAME
  // Long/String value pair the single-statement LWT serves — text
  // tables and the text-storage mapped grammars (uuid here). Member
  // literals and IF values parse through the declared grammar;
  // a failing condition applies NOTHING (the second batch below);
  // tombstone members ride the atomic apply (the third).
  private def textConditionalBatchLifecycle(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_c56e"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-c56e-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.jobs (pk bigint, ck int,
        |  col text, value text, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.ids (pk bigint, ck int,
        |  col text, value uuid, wt bigint);
        |TRUNCATE ks.jobs; TRUNCATE ks.ids;
        |BEGIN BATCH
        |  INSERT INTO ks.jobs (pk, ck, state) VALUES (1, 1, 'new')
        |    IF NOT EXISTS;
        |  UPDATE ks.jobs SET note = 'first' WHERE pk = 1 AND ck = 2;
        |APPLY BATCH;
        |BEGIN BATCH
        |  UPDATE ks.jobs SET state = 'done' WHERE pk = 1 AND ck = 1
        |    IF state = 'other';
        |  UPDATE ks.jobs SET note = 'never' WHERE pk = 1 AND ck = 2;
        |APPLY BATCH;
        |BEGIN BATCH
        |  UPDATE ks.jobs SET state = 'done' WHERE pk = 1 AND ck = 1
        |    IF state = 'new';
        |  DELETE note FROM ks.jobs WHERE pk = 1 AND ck = 2;
        |APPLY BATCH;
        |BEGIN BATCH
        |  INSERT INTO ks.ids (pk, ck, id) VALUES (1, 1,
        |    123E4567-E89B-12D3-A456-426614174000) IF NOT EXISTS;
        |APPLY BATCH;
        |BEGIN BATCH
        |  UPDATE ks.ids SET id =
        |    00000000-0000-1000-8000-000000000002
        |    WHERE pk = 1 AND ck = 1
        |    IF id = 123e4567-E89B-12d3-A456-426614174000;
        |APPLY BATCH
        |""".stripMargin, cat)
    cq("SELECT pk, ck, col, value FROM ks.jobs")
      .select(lit("jobs").as("tbl"), col("pk"), col("ck"),
        col("col").as("c"), col("value").as("v"))
      .unionAll(cq("SELECT pk, ck, col, value FROM ks.ids")
        .select(lit("ids").as("tbl"), col("pk"), col("ck"),
          col("col").as("c"), col("value").as("v")))
      .orderBy(col("tbl"), col("pk"), col("ck"), col("c"))
  }

  private val textConditionalBatchSql =
    """SELECT tbl, CAST(pk AS BIGINT) AS pk, CAST(ck AS INT) AS ck,
      |  c, v
      |FROM (VALUES
      |  ('ids', 1, 1, 'id', '00000000-0000-1000-8000-000000000002'),
      |  ('jobs', 1, 1, 'state', 'done')) AS t(tbl, pk, ck, c, v)
      |ORDER BY tbl, pk, ck, c""".stripMargin

  // C71 — CQL user-defined functions/aggregates (r15): CREATE
  // FUNCTION registers a deterministic scalar SQL expression over
  // named arguments (validated at CREATE: parses, resolves over
  // exactly the args, deterministic, typed); CREATE AGGREGATE
  // composes registered functions Cassandra's way — SFUNC folds
  // (state, value) -> state over the rows IN CLUSTERING ORDER from
  // INITCOND, FINALFUNC maps the final state. The digit fold below is
  // non-commutative on purpose: its value pins the fold order.
  private def cqlFunctionsLifecycle(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_fn"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-fn-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.t (pk bigint, ck int,
        |  col text, value bigint, wt bigint);
        |TRUNCATE ks.t;
        |INSERT INTO ks.t (pk, ck, qty) VALUES (1, 1, 5);
        |INSERT INTO ks.t (pk, ck, qty) VALUES (1, 2, 7);
        |INSERT INTO ks.t (pk, ck, qty) VALUES (2, 1, 10);
        |DROP AGGREGATE IF EXISTS ks.digits;
        |CREATE OR REPLACE FUNCTION ks.double_it (x bigint)
        |  RETURNS NULL ON NULL INPUT RETURNS bigint
        |  LANGUAGE sql AS 'x * 2';
        |CREATE OR REPLACE FUNCTION ks.acc_digits (acc bigint,
        |  v bigint) RETURNS NULL ON NULL INPUT RETURNS bigint
        |  LANGUAGE sql AS 'acc * 100 + v';
        |CREATE OR REPLACE FUNCTION ks.fin_neg (st bigint)
        |  RETURNS NULL ON NULL INPUT RETURNS bigint
        |  LANGUAGE sql AS 'st * -1';
        |CREATE AGGREGATE ks.digits (bigint) SFUNC acc_digits
        |  STYPE bigint FINALFUNC fin_neg INITCOND 0""".stripMargin,
      cat)
    val f = cq("SELECT pk, ck, double_it(value) AS v FROM ks.t")
      .select(lit("f").as("tag"), col("pk"),
        col("ck").cast("int").as("ck"), col("v"))
    val a = cq("SELECT digits(value) AS v FROM ks.t")
      .select(lit("a").as("tag"), lit(0L).as("pk"),
        lit(0).as("ck"), col("v"))
    f.unionAll(a).orderBy(col("tag"), col("pk"), col("ck"))
  }

  private val cqlFunctionsSql =
    """SELECT tag, CAST(pk AS BIGINT) AS pk, CAST(ck AS INT) AS ck,
      |  CAST(v AS BIGINT) AS v
      |FROM (VALUES ('a', 0, 0, -50710),
      |  ('f', 1, 1, 10), ('f', 1, 2, 14), ('f', 2, 1, 20))
      |  AS t(tag, pk, ck, v)
      |ORDER BY tag, pk, ck""".stripMargin

  // C18j — SASI CONTAINS-mode substring LIKE (r15): the suffix index
  // over the C18i order-preserving codes — `LIKE '%sub%'` serves as
  // ONE closed code range over the contains(<col>) index (a
  // substring is a PREFIX of one of the value's indexed suffixes),
  // base re-read drops collisions/epochs via the contains re-check.
  private def containsLikeLifecycle(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_contains"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-ct-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.docs (pk bigint, ck int,
        |  col text, value text, wt bigint);
        |CREATE INDEX IF NOT EXISTS ON ks.docs (contains(name));
        |TRUNCATE ks.docs;
        |INSERT INTO ks.docs (pk, ck, name) VALUES (1, 1, 'alpha');
        |INSERT INTO ks.docs (pk, ck, name) VALUES (2, 1, 'banana');
        |INSERT INTO ks.docs (pk, ck, name) VALUES (3, 1, 'cabana');
        |INSERT INTO ks.docs (pk, ck, name) VALUES (4, 1, 'zebra');
        |INSERT INTO ks.docs (pk, ck, name) VALUES (5, 1, 'ban');
        |INSERT INTO ks.docs (pk, ck, name) VALUES (6, 1, 'panther')
        |""".stripMargin, cat)
    def like(pat: String, tag: String): DataFrame =
      cq(s"SELECT pk FROM ks.docs WHERE name LIKE '$pat'")
        .select(lit(tag).as("pat"), col("pk"))
    like("%an%", "an").unionAll(like("%zeb%", "zeb"))
      .unionAll(like("%anth%", "anth"))
      .orderBy(col("pat"), col("pk"))
  }

  private val containsLikeSql =
    """SELECT pat, CAST(pk AS BIGINT) AS pk
      |FROM (VALUES ('an', 2), ('an', 3), ('an', 5), ('an', 6),
      |  ('anth', 6), ('zeb', 4)) AS t(pat, pk)
      |ORDER BY pat, pk""".stripMargin

  // C18k — SASI case-insensitive analyzer (r15): CREATE INDEX ...
  // WITH OPTIONS = {'case_sensitive': 'false'} on the LIKE modes
  // stores lower(value) order-preserving codes; probes lowercase the
  // needle and the base re-read re-checks on lower(value), so
  // mixed-case rows serve mixed-case patterns over the same
  // Summary-pruned code-range plan as C18i/C18j.
  private def ciLikeLifecycle(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_cilike"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-ci-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.docs (pk bigint, ck int,
        |  col text, value text, wt bigint);
        |CREATE INDEX IF NOT EXISTS ON ks.docs (prefix(name))
        |  WITH OPTIONS = {'case_sensitive': 'false'};
        |CREATE INDEX IF NOT EXISTS ON ks.docs (contains(name))
        |  WITH OPTIONS = {'case_sensitive': 'false'};
        |TRUNCATE ks.docs;
        |INSERT INTO ks.docs (pk, ck, name) VALUES (1, 1, 'Apple pie');
        |INSERT INTO ks.docs (pk, ck, name) VALUES (2, 1, 'apricot JAM');
        |INSERT INTO ks.docs (pk, ck, name) VALUES (3, 1, 'Banana');
        |INSERT INTO ks.docs (pk, ck, name) VALUES (4, 1,
        |  'GRAPE apple tart');
        |INSERT INTO ks.docs (pk, ck, name) VALUES (5, 1, 'APRIL');
        |INSERT INTO ks.docs (pk, ck, name) VALUES (6, 1, 'grape')
        |""".stripMargin, cat)
    def like(pat: String, tag: String): DataFrame =
      cq(s"SELECT pk FROM ks.docs WHERE name LIKE '$pat'")
        .select(lit(tag).as("pat"), col("pk"))
    like("ap%", "p_ap").unionAll(like("APR%", "p_apr"))
      .unionAll(like("%APPLE%", "c_apple"))
      .unionAll(like("%Rape%", "c_rape"))
      .orderBy(col("pat"), col("pk"))
  }

  private val ciLikeSql =
    """SELECT pat, CAST(pk AS BIGINT) AS pk
      |FROM (VALUES ('c_apple', 1), ('c_apple', 4),
      |  ('c_rape', 4), ('c_rape', 6),
      |  ('p_ap', 1), ('p_ap', 2), ('p_ap', 5),
      |  ('p_apr', 2), ('p_apr', 5)) AS t(pat, pk)
      |ORDER BY pat, pk""".stripMargin

  // C18l — SASI suffix LIKE (r16): `LIKE '%s'` serves from the SAME
  // contains(<col>) suffix index as C18j with a NARROWER probe — a
  // value ends with s iff s IS one of its indexed suffixes, so the
  // probe is the single order-preserving code POINT (one
  // Summary-pruned index point read, not a range) and the base
  // re-read's endswith re-check drops 8-byte-code collisions
  // (exercised below with two >8-byte needles sharing their first
  // 8 bytes).
  private def suffixLikeLifecycle(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_suffix"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-sfx-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.docs (pk bigint, ck int,
        |  col text, value text, wt bigint);
        |CREATE INDEX IF NOT EXISTS ON ks.docs (contains(name));
        |TRUNCATE ks.docs;
        |INSERT INTO ks.docs (pk, ck, name) VALUES (1, 1, 'alpha');
        |INSERT INTO ks.docs (pk, ck, name) VALUES (2, 1, 'banana');
        |INSERT INTO ks.docs (pk, ck, name) VALUES (3, 1, 'cabana');
        |INSERT INTO ks.docs (pk, ck, name) VALUES (4, 1, 'zebra');
        |INSERT INTO ks.docs (pk, ck, name) VALUES (5, 1, 'ban');
        |INSERT INTO ks.docs (pk, ck, name)
        |  VALUES (6, 1, 'documentation-x');
        |INSERT INTO ks.docs (pk, ck, name)
        |  VALUES (7, 1, 'documentation-y')
        |""".stripMargin, cat)
    def like(pat: String, tag: String): DataFrame =
      cq(s"SELECT pk FROM ks.docs WHERE name LIKE '$pat'")
        .select(lit(tag).as("pat"), col("pk"))
    like("%ana", "ana").unionAll(like("%an", "an"))
      .unionAll(like("%ra", "ra"))
      .unionAll(like("%mentation-x", "mx"))
      .orderBy(col("pat"), col("pk"))
  }

  private val suffixLikeSql =
    """SELECT pat, CAST(pk AS BIGINT) AS pk
      |FROM (VALUES ('an', 5), ('ana', 2), ('ana', 3),
      |  ('mx', 6), ('ra', 4)) AS t(pat, pk)
      |ORDER BY pat, pk""".stripMargin

  // C51c — real-world table options (r15): comment is parsed,
  // stored, and DESC-rendered with '' escaping; the physical tuning
  // knobs every production schema dump carries (caching, compression,
  // speculative_retry, bloom_filter_fp_chance, ...) are ACCEPTED and
  // RECORDED verbatim, so `cqlsh -e 'DESC KEYSPACE'` output replays
  // through the front door and DESCRIBE round-trips it.
  private def tableOptionsRound(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_tblopts"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-tblopts-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    cq("CREATE KEYSPACE IF NOT EXISTS ks")
    // DROP + CREATE (not IF NOT EXISTS): the lifecycle mutates table
    // PROPERTIES, so each run must start from the declared options
    cq("DROP TABLE IF EXISTS ks.t")
    cq("CREATE TABLE ks.t (pk bigint, ck int, " +
      "col text, value bigint, wt bigint) WITH " +
      "comment = 'orders AND it''s lineitems' AND " +
      "caching = {'keys': 'ALL', 'rows_per_partition': 'NONE'} AND " +
      "compression = {'class': 'LZ4Compressor'} AND " +
      "bloom_filter_fp_chance = 0.01 AND " +
      "speculative_retry = '99p'")
    val d1 = cq("DESCRIBE TABLE ks.t")
      .select(lit("1_create").as("step"),
        col("create_statement").as("v"))
    cq("ALTER TABLE ks.t WITH comment = 'updated' AND " +
      "memtable_flush_period_in_ms = 60000")
    val d2 = cq("DESCRIBE TABLE ks.t")
      .select(lit("2_alter").as("step"), col("create_statement").as("v"))
    cq("ALTER TABLE ks.t WITH comment = ''") // Cassandra's removal
    val d3 = cq("DESCRIBE TABLE ks.t")
      .select(lit("3_uncomment").as("step"),
        col("create_statement").as("v"))
    d1.unionAll(d2).unionAll(d3).orderBy(col("step"))
  }

  private val tableOptionsSql = {
    // assemble the EXPECTED rendered statements once, escape once —
    // the renderer emits comment first (after clustering order),
    // then the recorded knobs in option-name order; the memtable
    // knob added by the ALTER persists through the comment removal
    def dq(s: String) = s.replace("'", "''")
    val base = "CREATE TABLE ks.t (pk bigint, ck int, col text, " +
      "value bigint, wt bigint, PRIMARY KEY ((pk), ck)) WITH "
    val knobs0 = Seq(
      "bloom_filter_fp_chance = 0.01",
      "caching = {'keys': 'ALL', 'rows_per_partition': 'NONE'}",
      "compression = {'class': 'LZ4Compressor'}",
      "speculative_retry = '99p'")
    val knobs1 =
      (knobs0 :+ "memtable_flush_period_in_ms = 60000").sorted
    val s1 = base + (("comment = 'orders AND it''s lineitems'" +:
      knobs0)).mkString(" AND ")
    val s2 = base + (("comment = 'updated'" +: knobs1))
      .mkString(" AND ")
    val s3 = base + knobs1.mkString(" AND ")
    s"""SELECT step, v FROM (VALUES
       |  ('1_create', '${dq(s1)}'),
       |  ('2_alter', '${dq(s2)}'),
       |  ('3_uncomment', '${dq(s3)}')) AS t(step, v)
       |ORDER BY step""".stripMargin
  }

  // C67f — DESCRIBE INDEX (r15): render each index's CREATE statement
  // in this subset's own round-trippable grammar; _ci analyzer
  // targets render back as their WITH OPTIONS spelling, and
  // system_schema.indexes lists all three.
  private def indexMetadataRound(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_idxmeta"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-idxmeta-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.t (pk bigint, ck int,
        |  col text, value text, wt bigint);
        |INSERT INTO ks.t (pk, ck, name) VALUES (1, 1, 'a');
        |CREATE INDEX IF NOT EXISTS plainx ON ks.t (name);
        |CREATE INDEX IF NOT EXISTS pfx ON ks.t (prefix(name));
        |CREATE INDEX IF NOT EXISTS ctci ON ks.t (contains(name))
        |  WITH OPTIONS = {'case_sensitive': 'false'}""".stripMargin,
      cat)
    def desc(n: String): DataFrame =
      cq(s"DESCRIBE INDEX ks.$n")
        .select(lit(n).as("idx"), col("create_statement").as("stmt"))
    val listed = cq("SELECT index_name FROM system_schema.indexes " +
      "WHERE table_name = 't'")
      .select(lit("zz_list").as("idx"), col("index_name").as("stmt"))
    desc("plainx").unionAll(desc("pfx")).unionAll(desc("ctci"))
      .unionAll(listed).orderBy(col("idx"), col("stmt"))
  }

  private val indexMetadataSql =
    """SELECT idx, stmt FROM (VALUES
      |  ('ctci', 'CREATE INDEX ctci ON ks.t (contains(name)) ' ||
      |    'WITH OPTIONS = {''case_sensitive'': ''false''}'),
      |  ('pfx', 'CREATE INDEX pfx ON ks.t (prefix(name))'),
      |  ('plainx', 'CREATE INDEX plainx ON ks.t (name)'),
      |  ('zz_list', 'ctci'), ('zz_list', 'pfx'),
      |  ('zz_list', 'plainx')) AS t(idx, stmt)
      |ORDER BY idx, stmt""".stripMargin

  // C67g — DESCRIBE KEYSPACE (r15): cqlsh's schema-export command.
  // One row per CREATE statement in dependency order, every statement
  // in the subset's own grammar — proven by REPLAYING the dump into a
  // SECOND catalog and dumping again: both dumps must be identical.
  private def keyspaceDumpRound(s: SparkSession,
      d: String): DataFrame = {
    val catA = "gq_ksdump_a"
    val catB = "gq_ksdump_b"
    Seq(catA, catB).foreach { c =>
      if (s.conf.getOption(s"spark.sql.catalog.$c").isEmpty) {
        s.conf.set(s"spark.sql.catalog.$c", "graft.sources.CellCatalog")
        s.conf.set(s"spark.sql.catalog.$c.root",
          java.nio.file.Files.createTempDirectory(s"cql-$c").toString)
      }
    }
    def ca(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, catA)
    def cb(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, catB)
    ca("DROP KEYSPACE IF EXISTS ks"); cb("DROP KEYSPACE IF EXISTS ks")
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE ks;
        |CREATE TYPE ks.item (q bigint, t text);
        |CREATE TABLE ks.t (pk bigint, ck int, col text,
        |  value bigint, wt bigint) WITH comment = 'demo';
        |CREATE INDEX pidx ON ks.t (price);
        |CREATE MATERIALIZED VIEW ks.byp AS SELECT * FROM ks.t
        |  WHERE price IS NOT NULL PRIMARY KEY ((price), pk, ck);
        |CREATE FUNCTION ks.plus1 (x bigint) RETURNS NULL ON NULL
        |  INPUT RETURNS bigint LANGUAGE sql AS 'x + 1'""".stripMargin,
      catA)
    val dumpA = ca("DESCRIBE KEYSPACE ks").collect()
      .map(_.getString(0)).toSeq
    // the dump REPLAYS verbatim — the round-trippability proof
    graft.cql.Cql.catalogScript(s, dumpA.mkString(";\n"), catB)
    val dumpB = cb("DESCRIBE KEYSPACE ks").collect()
      .map(_.getString(0)).toSeq
    import s.implicits._
    (dumpA.map(("a", _)) ++ dumpB.map(("b", _)))
      .toDF("src", "stmt").orderBy(col("src"), col("stmt"))
  }

  private val keyspaceDumpSql = {
    def dq(x: String) = x.replace("'", "''")
    val stmts = Seq(
      "CREATE KEYSPACE ks WITH replication = {'class': " +
        "'SimpleStrategy', 'replication_factor': '1'}",
      "CREATE TYPE ks.item (q bigint, t text)",
      "CREATE TABLE ks.t (pk bigint, ck int, col text, value " +
        "bigint, wt bigint, PRIMARY KEY ((pk), ck)) WITH " +
        "comment = 'demo'",
      "CREATE INDEX pidx ON ks.t (price)",
      "CREATE MATERIALIZED VIEW ks.byp AS SELECT * FROM ks.t " +
        "WHERE price IS NOT NULL PRIMARY KEY ((price), pk, ck)",
      "CREATE FUNCTION ks.plus1 (x bigint) RETURNS NULL ON NULL " +
        "INPUT RETURNS bigint LANGUAGE sql AS 'x + 1'")
    val rows = for (src <- Seq("a", "b"); st <- stmts)
      yield s"('$src', '${dq(st)}')"
    s"""SELECT src, stmt FROM (VALUES
       |  ${rows.mkString(",\n  ")}) AS t(src, stmt)
       |ORDER BY src, stmt""".stripMargin
  }

  // C15b — STATIC columns through the CQL front door (r11): one
  // `!s:<name>` cell per (pk, static column) at the partition-front
  // position, so per-partition LWW falls out of the ordinary
  // (pk, ck, col) merge; static-only writes bind the partition alone,
  // partition tombstones shadow statics (row tombstones never do),
  // and SELECT of a declared-static name narrows to its cell.
  private def staticCqlLifecycle(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_static"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-static-q").toString)
    }
    // one SCRIPT: the per-script buffer folds the writes into one
    // flush file (the memtable shape)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.t (pk bigint, ck int, col text,
        |  value bigint, wt bigint, s bigint STATIC);
        |TRUNCATE ks.t;
        |INSERT INTO ks.t (pk, s) VALUES (1, 100);
        |UPDATE ks.t SET s = 111 WHERE pk = 1;
        |INSERT INTO ks.t (pk, ck, qty, s) VALUES (2, 1, 5, 200);
        |INSERT INTO ks.t (pk, s) VALUES (3, 300);
        |DELETE FROM ks.t WHERE pk = 3;
        |INSERT INTO ks.t (pk, s) VALUES (3, 301);
        |SELECT pk, s FROM ks.t ORDER BY pk""".stripMargin, cat)
  }

  private val staticCqlSql =
    """SELECT CAST(pk AS BIGINT) AS pk, CAST(s AS BIGINT) AS s
      |FROM (VALUES (1, 111), (2, 200), (3, 301)) AS t(pk, s)
      |ORDER BY pk""".stripMargin

  // C55f — STATIC columns in LWT (r16): conditions on a static
  // column (the partition-level flag idiom) and static SETs ride the
  // one-write conditional-batch round — the condition and the write
  // carry their OWN coordinates, so a static condition reads the
  // partition-front cell while the write lands on the CAS row (or
  // vice versa). A static-only condition binds the partition alone.
  private def staticLwtLifecycle(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_slwt"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-slwt-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    cq("CREATE KEYSPACE IF NOT EXISTS ks")
    cq("CREATE TABLE IF NOT EXISTS ks.t (pk bigint, ck int, col text, " +
      "value bigint, wt bigint, flag bigint STATIC)")
    cq("TRUNCATE ks.t")
    cq("UPDATE ks.t SET flag = 1 WHERE pk = 1")
    cq("UPDATE ks.t SET qty = 10 WHERE pk = 1 AND ck = 1 " +
      "IF flag = 1") // applies — static condition, row write
    cq("UPDATE ks.t SET qty = 99 WHERE pk = 1 AND ck = 1 " +
      "IF flag = 2") // refuses — flag is 1
    cq("UPDATE ks.t SET flag = 5 WHERE pk = 1 AND ck = 1 " +
      "IF qty = 10") // applies — regular condition, static write
    cq("UPDATE ks.t SET flag = 7 WHERE pk = 2 AND ck = 1 " +
      "IF flag = 5") // refuses — pk 2 has no flag cell
    cq("UPDATE ks.t SET qty = 11 WHERE pk = 1 AND ck = 1 " +
      "IF flag = 5 AND qty = 10") // applies — mixed multi-condition
    cq("SELECT pk, ck, col, value FROM ks.t ORDER BY pk, ck, col")
  }

  private val staticLwtSql =
    """SELECT CAST(pk AS BIGINT) AS pk, CAST(ck AS INT) AS ck,
      |  col, CAST(v AS BIGINT) AS value
      |FROM (VALUES (1, -2147483648, '!s:flag', 5), (1, 1, 'qty', 11))
      |  AS t(pk, ck, col, v)
      |ORDER BY pk, ck, col""".stripMargin

  // C72b — the REST of the function-call literal family (r17), all
  // minted from the statement writetime coordinate read as epoch
  // milliseconds (the SAME clock C72's now() mints its 60-bit time
  // from — no wall time, so lifecycles replay bit-identically):
  // toTimestamp(now()) on timestamp columns = the instant
  // epoch+wt ms, toDate(now()) on date columns = its UTC day,
  // toUnixTimestamp(now()) on bigint columns = wt itself; and the
  // WHERE-side minTimeuuid('ts')/maxTimeuuid('ts') range probes on
  // a timeuuid clustering part — compared by the 60-bit TIME
  // component (Cassandra's timeuuid comparator is time-first; the
  // canonical TEXT order would select garbage), with the partition
  // probe still pushed to the typed scan.
  private def fcallFamily(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_fcfam"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-fcfam-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.ts (pk bigint, ck int,
        |  col text, value timestamp, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.dt (pk bigint, ck int,
        |  col text, value date, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.ux (pk bigint, ck int,
        |  col text, value bigint, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.ev (sensor bigint,
        |  ev timeuuid, col text, value bigint, wt bigint,
        |  PRIMARY KEY ((sensor), ev));
        |TRUNCATE ks.ts; TRUNCATE ks.dt; TRUNCATE ks.ux;
        |TRUNCATE ks.ev;
        |INSERT INTO ks.ts (pk, ck, at) VALUES (1, 1,
        |  toTimestamp(now()));
        |UPDATE ks.ts SET at = toTimestamp(now())
        |  WHERE pk = 2 AND ck = 1;
        |INSERT INTO ks.dt (pk, ck, day) VALUES (1, 1, toDate(now()));
        |INSERT INTO ks.ux (pk, ck, at) VALUES (1, 1,
        |  toUnixTimestamp(now()));
        |UPDATE ks.ux SET at = toUnixTimestamp(now())
        |  WHERE pk = 2 AND ck = 1;
        |INSERT INTO ks.ev (sensor, ev, reading) VALUES (1,
        |  00000064-0000-1000-8000-000000000001, 10);
        |INSERT INTO ks.ev (sensor, ev, reading) VALUES (1,
        |  000000c8-0000-1000-8000-000000000001, 20);
        |INSERT INTO ks.ev (sensor, ev, reading) VALUES (1,
        |  0000012c-0000-1000-8000-000000000001, 30)
        |""".stripMargin, cat)
    val ts = cq("SELECT pk, value FROM ks.ts")
      .select(lit("ts").as("item"), col("pk"),
        expr("unix_millis(value)").as("v"))
    val dt = cq("SELECT pk, value FROM ks.dt")
      .select(lit("dt").as("item"), col("pk"),
        col("value").cast("long").as("v"))
    val ux = cq("SELECT pk, value FROM ks.ux")
      .select(lit("ux").as("item"), col("pk"),
        col("value").as("v"))
    // rows at times 100/200/300 ms; the bounds select [50, 200] —
    // millis argument on one side, ISO instant on the other
    val ev = cq("SELECT sensor, value FROM ks.ev WHERE sensor = 1 " +
      "AND ev > minTimeuuid(50) " +
      "AND ev <= maxTimeuuid('1970-01-01T00:00:00.200Z')")
      .select(lit("ev").as("item"), col("sensor").as("pk"),
        col("value").as("v"))
    ts.unionAll(dt).unionAll(ux).unionAll(ev)
      .orderBy(col("item"), col("pk"), col("v"))
  }

  private val fcallFamilySql =
    """SELECT item, CAST(pk AS BIGINT) AS pk, CAST(v AS BIGINT) AS v
      |FROM (VALUES
      |  ('dt', 1, 0),
      |  ('ev', 1, 10), ('ev', 1, 20),
      |  ('ts', 1, 1), ('ts', 2, 2),
      |  ('ux', 1, 1), ('ux', 2, 2)) AS t(item, pk, v)
      |ORDER BY item, pk, v""".stripMargin

  // C72c — the SELECT-side time-extraction functions (r17):
  // toTimestamp(c)/toDate(c)/toUnixTimestamp(c) (+ the legacy
  // dateOf/unixTimestampOf spellings) read a timeuuid column's
  // 60-bit time as the C72 clock (epoch ms) — over a DECLARED
  // timeuuid KEY part (the expression reads the key column; the
  // partition probe pushes) or the table's timeuuid VALUE column
  // (the select narrows to its cells, the WRITETIME contract). The
  // lifecycle pins the MINT INVERSION: extracting a now()-minted
  // cell returns the statement's writetime coordinate exactly.
  private def fcallSelect(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_fcsel"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-fcsel-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.ev (sensor bigint,
        |  ev timeuuid, col text, value bigint, wt bigint,
        |  PRIMARY KEY ((sensor), ev));
        |CREATE TABLE IF NOT EXISTS ks.tu (pk bigint, ck int,
        |  col text, value timeuuid, wt bigint);
        |TRUNCATE ks.ev; TRUNCATE ks.tu;
        |INSERT INTO ks.ev (sensor, ev, reading) VALUES (1,
        |  05265c00-0000-1000-8000-000000000001, 10);
        |INSERT INTO ks.ev (sensor, ev, reading) VALUES (1,
        |  000000c8-0000-1000-8000-000000000001, 20);
        |INSERT INTO ks.tu (pk, ck, at) VALUES (7, 1, now());
        |INSERT INTO ks.tu (pk, ck, at) VALUES (8, 1, now())
        |""".stripMargin, cat)
    // key-part extraction: times 86400000 ms (= 1970-01-02) and
    // 200 ms; value-column extraction inverts the now() mints
    // (wt 1 and 2 on the truncated table)
    val k = cq("SELECT sensor, toUnixTimestamp(ev) AS u, " +
      "toDate(ev) AS d FROM ks.ev WHERE sensor = 1")
      .select(lit("k").as("item"), col("sensor").as("pk"),
        col("u").as("v"), col("d").cast("string").as("s"))
    val v = cq("SELECT pk, toUnixTimestamp(at) AS u, " +
      "toTimestamp(at) AS t FROM ks.tu")
      .select(lit("v").as("item"), col("pk"), col("u").as("v"),
        expr("cast(unix_millis(t) as string)").as("s"))
    k.unionAll(v).orderBy(col("item"), col("pk"), col("v"))
  }

  private val fcallSelectSql =
    """SELECT item, CAST(pk AS BIGINT) AS pk, CAST(v AS BIGINT) AS v,
      |  s FROM (VALUES
      |  ('k', 1, 200, '1970-01-01'),
      |  ('k', 1, 86400000, '1970-01-02'),
      |  ('v', 7, 1, '1'), ('v', 8, 2, '2')) AS t(item, pk, v, s)
      |ORDER BY item, pk, v""".stripMargin

  // C15c — entry writetime + MAXWRITETIME (r17): Cassandra 4.2's
  // collection-element selection (`WRITETIME(m['k'])` / `TTL(m['k'])`
  // — the entry IS its own cell in the C12 row-is-the-map encoding,
  // so the fn narrows to that cell exactly like a plain column's)
  // and 4.1's MAXWRITETIME(c) — the row's largest writetime across
  // the column's cells: identical to WRITETIME on a scalar (one
  // cell), a per-owner grouped max over a declared collection's
  // element cells (lists per pk, maps per (pk, ck) row).
  private def entryWritetime(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_mwt"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-mwt-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.m (pk bigint, ck int,
        |  col text, value map<text, bigint>, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.l (pk bigint, ck int,
        |  col text, value list<bigint>, wt bigint);
        |TRUNCATE ks.m; TRUNCATE ks.l;
        |UPDATE ks.m SET m['a'] = 1 WHERE pk = 1 AND ck = 1;
        |UPDATE ks.m USING TTL 50 SET m['b'] = 2
        |  WHERE pk = 1 AND ck = 1;
        |UPDATE ks.l SET xs = xs + [7] WHERE pk = 1;
        |UPDATE ks.l SET xs = xs + [8, 9] WHERE pk = 1
        |""".stripMargin, cat)
    val ew = cq("SELECT WRITETIME(m['a']) AS v FROM ks.m " +
      "WHERE pk = 1 AND ck = 1")
      .select(lit("wt_a").as("item"), col("v"))
    val et = cq("SELECT TTL(m['b']) AS v FROM ks.m " +
      "WHERE pk = 1 AND ck = 1")
      .select(lit("ttl_b").as("item"), col("v"))
    val mm = cq("SELECT pk, ck, MAXWRITETIME(m) AS v FROM ks.m " +
      "WHERE pk = 1 AND ck = 1")
      .select(lit("max_m").as("item"), col("v"))
    val ml = cq("SELECT pk, MAXWRITETIME(xs) AS v FROM ks.l " +
      "WHERE pk = 1")
      .select(lit("max_l").as("item"), col("v"))
    ew.unionAll(et).unionAll(mm).unionAll(ml).orderBy(col("item"))
  }

  private val entryWritetimeSql =
    """SELECT item, CAST(v AS BIGINT) AS v FROM (VALUES
      |  ('max_l', 2), ('max_m', 2), ('ttl_b', 50), ('wt_a', 1))
      |  AS t(item, v)
      |ORDER BY item""".stripMargin

  // C18m — CREATE CUSTOM INDEX (r17): the `USING '<class>'` spelling
  // real Cassandra apps write, desugared to the canonical index
  // modes — SASIIndex → prefix/contains/plain (PREFIX is SASI's
  // default mode; SPARSE is the identity-token range index),
  // StorageAttachedIndex → plain equality, or ann() on a vector
  // column (Cassandra 5's SAI vector form). One index machinery,
  // two spellings; probes serve identically.
  private def customIndex(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_cidx"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-cidx-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.w (pk bigint, ck int,
        |  col text, value text, wt bigint);
        |CREATE TABLE IF NOT EXISTS ks.emb (pk bigint, ck int,
        |  col text, value vector<float, 2>, wt bigint);
        |TRUNCATE ks.w; TRUNCATE ks.emb;
        |INSERT INTO ks.w (pk, ck, word) VALUES (1, 1, 'carpet');
        |INSERT INTO ks.w (pk, ck, word) VALUES (2, 1, 'cargo');
        |INSERT INTO ks.w (pk, ck, word) VALUES (3, 1, 'magic');
        |CREATE CUSTOM INDEX IF NOT EXISTS ON ks.w (word) USING
        |  'org.apache.cassandra.index.sasi.SASIIndex';
        |INSERT INTO ks.emb (pk, ck, v) VALUES (1, 1, [1.0, 0.0]);
        |INSERT INTO ks.emb (pk, ck, v) VALUES (2, 1, [-1.0, 0.0]);
        |CREATE CUSTOM INDEX IF NOT EXISTS ON ks.emb (v) USING
        |  'StorageAttachedIndex'
        |""".stripMargin, cat)
    val pfx = cq("SELECT pk FROM ks.w WHERE word LIKE 'car%'")
      .select(lit("sasi").as("item"), col("pk"))
    val ann = cq("SELECT pk FROM ks.emb ORDER BY v ANN OF " +
      "[1.0, 0.0] LIMIT 1")
      .select(lit("sai").as("item"), col("pk"))
    pfx.unionAll(ann).orderBy(col("item"), col("pk"))
  }

  private val customIndexSql =
    """SELECT item, CAST(pk AS BIGINT) AS pk FROM (VALUES
      |  ('sai', 1), ('sasi', 1), ('sasi', 2)) AS t(item, pk)
      |ORDER BY item, pk""".stripMargin

  // C51e — ALTER TABLE RENAME (r17): Cassandra's one legal column
  // rename (PRIMARY KEY parts only), pure metadata — file headers
  // keep their STORAGE names forever and the table-level spec serves
  // the DECLARED names through the keyRename props, so every
  // key-addressed path (WHERE, writes, DESCRIBE, system_schema, LWT)
  // resolves the new name with zero data movement. Chained renames
  // re-point every history entry, so reads stay one hop. The
  // lifecycle DROPs first (renames are table-property mutations —
  // the r15 rule: CREATE IF NOT EXISTS would accrete them).
  private def alterRename(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_rename"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-rename-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |DROP TABLE IF EXISTS ks.ev;
        |CREATE TABLE ks.ev (sensor bigint, seq int, col text,
        |  value bigint, wt bigint, PRIMARY KEY ((sensor), seq));
        |INSERT INTO ks.ev (sensor, seq, reading) VALUES (1, 1, 10);
        |INSERT INTO ks.ev (sensor, seq, reading) VALUES (1, 2, 20);
        |ALTER TABLE ks.ev RENAME sensor TO device;
        |INSERT INTO ks.ev (device, seq, reading) VALUES (2, 1, 30);
        |ALTER TABLE ks.ev RENAME device TO node AND seq TO pos;
        |INSERT INTO ks.ev (node, pos, reading) VALUES (3, 1, 40)
        |""".stripMargin, cat)
    cq("SELECT node, pos, value FROM ks.ev")
      .orderBy(col("node"), col("pos"))
  }

  private val alterRenameSql =
    """SELECT CAST(node AS BIGINT) AS node, CAST(pos AS INT) AS pos,
      |  CAST(v AS BIGINT) AS value FROM (VALUES
      |  (1, 1, 10), (1, 2, 20), (2, 1, 30), (3, 1, 40))
      |  AS t(node, pos, v)
      |ORDER BY node, pos""".stripMargin

  // C51d — CREATE TABLE ... LIKE (r16, Cassandra 5's CEP-43): the
  // new table copies the source's columns, statics and recorded
  // options by replaying the source's round-trippable DESCRIBE under
  // the new name — data is NOT copied. The clone takes writes
  // independently and inherits option semantics (the copied
  // default_time_to_live grants TTL on the clone's own writes).
  private def createLike(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_clike"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-clike-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    cq("CREATE KEYSPACE IF NOT EXISTS ks")
    cq("DROP TABLE IF EXISTS ks.src")
    cq("DROP TABLE IF EXISTS ks.dst")
    cq("CREATE TABLE ks.src (pk bigint, ck int, col text, " +
      "value bigint, wt bigint, flag bigint STATIC) " +
      "WITH comment = 'the source' AND default_time_to_live = 9")
    cq("INSERT INTO ks.src (pk, ck, qty) VALUES (1, 1, 5)")
    cq("CREATE TABLE ks.dst LIKE ks.src")
    cq("INSERT INTO ks.dst (pk, ck, qty) VALUES (7, 1, 70)")
    val s1 = cq("DESCRIBE TABLE ks.src").collect().head.getString(0)
    val s2 = cq("DESCRIBE TABLE ks.dst").collect().head.getString(0)
    val schemaCopied =
      if (s2 == s1.replace("CREATE TABLE ks.src", "CREATE TABLE ks.dst"))
        1L else 0L
    val src = cq("SELECT pk, value FROM ks.src ORDER BY pk")
      .select(lit("src").as("item"), col("pk"), col("value").as("v"))
    val dst = cq("SELECT pk, value FROM ks.dst ORDER BY pk")
      .select(lit("dst").as("item"), col("pk"), col("value").as("v"))
    // the copied default TTL grants on the CLONE's own writes
    val ttl = cq("SELECT pk, TTL(qty) AS t FROM ks.dst " +
      "WHERE pk = 7 AND ck = 1")
      .select(lit("dst_ttl").as("item"), col("pk"), col("t").as("v"))
    val sm = src.limit(1).select(lit("schema_copied").as("item"),
      lit(schemaCopied).as("pk"), lit(0L).as("v"))
    src.unionAll(dst).unionAll(ttl).unionAll(sm)
      .orderBy(col("item"), col("pk"))
  }

  private val createLikeSql =
    """SELECT item, CAST(pk AS BIGINT) AS pk, CAST(v AS BIGINT) AS v
      |FROM (VALUES ('dst', 7, 70), ('dst_ttl', 7, 9),
      |  ('schema_copied', 1, 0), ('src', 1, 5)) AS t(item, pk, v)
      |ORDER BY item, pk""".stripMargin

  // C55g — LWT with USING TTL (r16): Cassandra serves TTL on
  // conditional writes (the expiring-lock idiom: INSERT ... IF NOT
  // EXISTS USING TTL n) but never custom timestamps. The applied
  // cell carries expiry = ballot-wt + ttl, so TTL(col) round-trips
  // the granted TTL; a refused statement leaves the standing grant.
  private def lwtTtlLifecycle(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_lwttl"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-lwttl-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    cq("CREATE KEYSPACE IF NOT EXISTS ks")
    cq("CREATE TABLE IF NOT EXISTS ks.t (pk bigint, ck int, col text, " +
      "value bigint, wt bigint)")
    cq("TRUNCATE ks.t")
    cq("INSERT INTO ks.t (pk, ck, qty) VALUES (1, 1, 5) " +
      "IF NOT EXISTS USING TTL 100") // applies, grant 100
    cq("UPDATE ks.t USING TTL 50 SET qty = 6 " +
      "WHERE pk = 1 AND ck = 1 IF qty = 5") // applies, grant 50
    cq("UPDATE ks.t USING TTL 7 SET qty = 9 " +
      "WHERE pk = 1 AND ck = 1 IF qty = 99") // refuses — 50 stands
    cq("INSERT INTO ks.t (pk, ck, qty) VALUES (2, 1, 7) " +
      "IF NOT EXISTS") // applies, NO grant
    val a = cq("SELECT pk, TTL(qty) AS t FROM ks.t WHERE pk = 1 " +
      "AND ck = 1")
    val b = cq("SELECT pk, TTL(qty) AS t FROM ks.t WHERE pk = 2 " +
      "AND ck = 1")
    a.unionAll(b).orderBy(col("pk"))
  }

  private val lwtTtlSql =
    """SELECT CAST(pk AS BIGINT) AS pk, CAST(t AS BIGINT) AS t
      |FROM (VALUES (1, 50), (2, CAST(NULL AS BIGINT))) AS t(pk, t)
      |ORDER BY pk""".stripMargin

  // C72 — function-call literals (r16): `now()` mints a version-1
  // timeuuid whose time IS the statement's writetime coordinate
  // (the engine's logical clock — lifecycles replay bit-identically,
  // which is exactly why the oracle below can be a literal), `uuid()`
  // a version-4 uuid from the same coordinate; a timeuuid is
  // assignable to a uuid column (Cassandra's rule).
  private def fcallLiterals(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_fcall"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-fcall-q").toString)
    }
    def cq(stmt: String) = graft.cql.Cql.catalogExecute(s, stmt, cat)
    cq("CREATE KEYSPACE IF NOT EXISTS ks")
    cq("CREATE TABLE IF NOT EXISTS ks.e (pk bigint, ck int, col text, " +
      "value timeuuid, wt bigint)")
    cq("CREATE TABLE IF NOT EXISTS ks.u (pk bigint, ck int, col text, " +
      "value uuid, wt bigint)")
    cq("TRUNCATE ks.e")
    cq("TRUNCATE ks.u")
    cq("INSERT INTO ks.e (pk, ck, ev) VALUES (1, 1, now())")
    cq("INSERT INTO ks.e (pk, ck, ev) VALUES (1, 2, now())")
    cq("UPDATE ks.e SET ev = now() WHERE pk = 2 AND ck = 1")
    cq("INSERT INTO ks.u (pk, ck, id) VALUES (1, 1, uuid())")
    cq("INSERT INTO ks.u (pk, ck, id) VALUES (2, 1, now())")
    val e = cq("SELECT pk, ck, value FROM ks.e ORDER BY pk, ck")
      .select(lit("e").as("t"), col("pk"), col("ck"), col("value"))
    val u = cq("SELECT pk, ck, value FROM ks.u ORDER BY pk, ck")
      .select(lit("u").as("t"), col("pk"), col("ck"), col("value"))
    e.unionAll(u).orderBy(col("t"), col("pk"), col("ck"))
  }

  private val fcallLiteralsSql =
    """SELECT t, CAST(pk AS BIGINT) AS pk, CAST(ck AS INT) AS ck, value
      |FROM (VALUES
      |  ('e', 1, 1, '00000001-0000-1000-8000-677261667401'),
      |  ('e', 1, 2, '00000002-0000-1000-8000-677261667401'),
      |  ('e', 2, 1, '00000003-0000-1000-8000-677261667401'),
      |  ('u', 1, 1, '14406096-3ab9-4051-aa3c-3a2fbba1f8ad'),
      |  ('u', 2, 1, '00000002-0000-1000-8000-677261667401'))
      |  AS t(t, pk, ck, value)
      |ORDER BY t, pk, ck""".stripMargin

  // C39c — WITH CLUSTERING ORDER BY (ck DESC) end-to-end (r11): the
  // declared physical order served by the C39 reverse cursor — LIMIT
  // takes the newest rows, PER PARTITION LIMIT keeps the LAST n per
  // partition (the time-series idiom), explicit ORDER BY overrides.
  private def clusteringDescLifecycle(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_desc"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-desc-q").toString)
    }
    val inserts = (1 to 4).map(c =>
      s"INSERT INTO ks.t (pk, ck, qty) VALUES (1, $c, ${c * 10})")
    graft.cql.Cql.catalogScript(s,
      ("""CREATE KEYSPACE IF NOT EXISTS ks;
         |CREATE TABLE IF NOT EXISTS ks.t (pk bigint, ck int,
         |  col text, value bigint, wt bigint)
         |  WITH CLUSTERING ORDER BY (ck DESC);
         |TRUNCATE ks.t""".stripMargin +:
        inserts :+
        "INSERT INTO ks.t (pk, ck, qty) VALUES (2, 1, 100)" :+
        "INSERT INTO ks.t (pk, ck, qty) VALUES (2, 2, 200)" :+
        "SELECT pk, ck, value FROM ks.t PER PARTITION LIMIT 1")
        .mkString(";\n"), cat)
  }

  private val clusteringDescSql =
    """SELECT CAST(pk AS BIGINT) AS pk, CAST(ck AS INT) AS ck,
      |  CAST(v AS BIGINT) AS value
      |FROM (VALUES (1, 4, 40), (2, 2, 200)) AS t(pk, ck, v)""".stripMargin

  // C68 — cqlsh's bulk round (COPY TO / COPY FROM): export the
  // reconciled live rows as CSV, re-import through the catalog write
  // path. The wt column rides along, so the round trip preserves
  // writetimes exactly; tombstoned rows never export.
  private def copyRound(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_copy"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-copy-q").toString)
    }
    val out = java.nio.file.Files
      .createTempDirectory("cql-copy-out").toString + "/t.csv"
    // one SCRIPT: the writes buffer until COPY TO's read flushes them
    graft.cql.Cql.catalogScript(s,
      s"""CREATE KEYSPACE IF NOT EXISTS ks;
         |CREATE TABLE IF NOT EXISTS ks.t (pk bigint, ck int, col text,
         |  value bigint, wt bigint);
         |CREATE TABLE IF NOT EXISTS ks.u (pk bigint, ck int, col text,
         |  value bigint, wt bigint);
         |TRUNCATE ks.t;
         |TRUNCATE ks.u;
         |INSERT INTO ks.t (pk, ck, qty) VALUES (1, 1, 10);
         |INSERT INTO ks.t (pk, ck, qty) VALUES (2, 1, 20);
         |DELETE FROM ks.t WHERE pk = 2;
         |INSERT INTO ks.t (pk, ck, qty) VALUES (3, 1, 30);
         |COPY ks.t TO '$out' WITH HEADER = TRUE;
         |COPY ks.u FROM '$out' WITH HEADER = TRUE;
         |SELECT pk, ck, col, value FROM ks.u ORDER BY pk""".stripMargin,
      cat)
  }

  private val copyRoundSql =
    """SELECT CAST(pk AS BIGINT) AS pk, CAST(ck AS INT) AS ck, col,
      |  CAST(v AS BIGINT) AS value
      |FROM (VALUES (1, 1, 'qty', 10), (3, 1, 'qty', 30))
      |  AS t(pk, ck, col, v)
      |ORDER BY pk""".stripMargin

  // C68b — COPY FROM on COUNTER tables (r18): cqlsh's own semantics —
  // every imported row is an INCREMENT (a fresh shard-delta cell at a
  // server-assigned writetime; the CSV's wt is ignored), so a TO→FROM
  // round trip onto the same table DOUBLES the counts and a second
  // import triples them.
  private def copyCounterRound(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_copyc"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-copyc-q").toString)
    }
    val out = java.nio.file.Files
      .createTempDirectory("cql-copyc-out").toString + "/c.csv"
    graft.cql.Cql.catalogScript(s,
      s"""CREATE KEYSPACE IF NOT EXISTS ks;
         |CREATE TABLE IF NOT EXISTS ks.c (pk bigint, ck int, col text,
         |  value counter, wt bigint);
         |TRUNCATE ks.c;
         |UPDATE ks.c SET n = n + 5 WHERE pk = 1 AND ck = 1;
         |UPDATE ks.c SET n = n + 3 WHERE pk = 1 AND ck = 1;
         |UPDATE ks.c SET m = m + 2 WHERE pk = 2 AND ck = 1;
         |COPY ks.c TO '$out';
         |COPY ks.c FROM '$out';
         |COPY ks.c FROM '$out';
         |SELECT pk, ck, col, value FROM ks.c ORDER BY pk""".stripMargin,
      cat)
  }

  // 8 and 2 exported; two imports add 2× more: 8*3 = 24, 2*3 = 6
  private val copyCounterRoundSql =
    """SELECT CAST(pk AS BIGINT) AS pk, CAST(ck AS INT) AS ck, col,
      |  CAST(v AS BIGINT) AS value
      |FROM (VALUES (1, 1, 'n', 24), (2, 1, 'm', 6))
      |  AS t(pk, ck, col, v)
      |ORDER BY pk""".stripMargin

  // C11d — TYPED-table collection writes end-to-end: list appends
  // claim int cks after the partition max (list order = ck order,
  // across statements), set add/remove are element cells + element
  // tombstones, map puts land on the fully-bound row — C11/C12/C13's
  // element-per-cell encodings over NAMED key parts, through a
  // DDL-created typed table and read back via the front door.
  private def typedCollections(s: SparkSession, d: String): DataFrame = {
    val cat = "gq_tcoll"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-tcoll-q").toString)
    }
    // one SCRIPT: appends/removes flush-then-read per statement
    // (they read the current collection state), but the trailing map
    // put and scalar SET buffer into the final flush
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.t (user text, ck int,
        |  col text, value bigint, wt bigint, PRIMARY KEY ((user), ck));
        |TRUNCATE ks.t;
        |UPDATE ks.t SET tags = tags + [10, 11] WHERE user = 'u-1';
        |UPDATE ks.t SET tags = tags + [12] WHERE user = 'u-1';
        |UPDATE ks.t SET st = st + {5, 6} WHERE user = 'u-2';
        |UPDATE ks.t SET st = st - {5} WHERE user = 'u-2';
        |UPDATE ks.t SET m['color'] = 7 WHERE user = 'u-3' AND ck = 1;
        |UPDATE ks.t SET qty = 9 WHERE user = 'u-3' AND ck = 1;
        |SELECT user, ck, col, value FROM ks.t ORDER BY user, ck, col"""
        .stripMargin, cat)
  }

  private val typedCollectionsSql =
    """SELECT u AS "user", CAST(ck AS INT) AS ck, col,
      |  CAST(v AS BIGINT) AS value
      |FROM (VALUES ('u-1', 1, 'tags', 10), ('u-1', 2, 'tags', 11),
      |  ('u-1', 3, 'tags', 12), ('u-2', 2, 'st', 6),
      |  ('u-3', 1, 'color', 7), ('u-3', 1, 'qty', 9))
      |  AS t(u, ck, col, v)
      |ORDER BY u, ck, col""".stripMargin

  // C5d — clustering-PREFIX tombstones end-to-end: Cassandra's
  // multi-row `DELETE ... WHERE pk = ? AND c1 = ?` on a multi-part
  // clustering key (a RangeTombstone whose bounds are a clustering
  // prefix). One `!delpfx:<j>` marker row per partition at rank 0;
  // the typed merge cursor shadows every row whose first j clustering
  // parts equal the marker's with wt <= deletion ts — later writes
  // into the prefix stay visible, other partitions untouched.
  private def prefixTombstoneLifecycle(s: SparkSession,
      d: String): DataFrame = {
    val cat = "gq_pfx"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root",
        java.nio.file.Files.createTempDirectory("cql-pfx-q").toString)
    }
    // one SCRIPT: the per-script buffer absorbs the writes into one
    // flush (the memtable shape) instead of one write job each
    graft.cql.Cql.catalogScript(s,
      """CREATE KEYSPACE IF NOT EXISTS ks;
        |CREATE TABLE IF NOT EXISTS ks.ev (tenant text, day bigint,
        |  seq int, col text, value bigint, wt bigint,
        |  PRIMARY KEY ((tenant), day, seq));
        |TRUNCATE ks.ev;
        |INSERT INTO ks.ev (tenant, day, seq, qty) VALUES ('a', 1, 1, 10);
        |INSERT INTO ks.ev (tenant, day, seq, qty) VALUES ('a', 1, 2, 11);
        |INSERT INTO ks.ev (tenant, day, seq, qty) VALUES ('a', 2, 1, 20);
        |INSERT INTO ks.ev (tenant, day, seq, qty) VALUES ('b', 1, 1, 30);
        |DELETE FROM ks.ev WHERE tenant = 'a' AND day = 1;
        |INSERT INTO ks.ev (tenant, day, seq, qty) VALUES ('a', 1, 3, 99);
        |SELECT tenant, day, seq, value FROM ks.ev
        |  ORDER BY tenant, day, seq""".stripMargin, cat)
  }

  private val prefixTombstoneSql =
    """SELECT t AS tenant, CAST(d AS BIGINT) AS day,
      |  CAST(s AS INT) AS seq, CAST(v AS BIGINT) AS value
      |FROM (VALUES ('a', 1, 3, 99), ('a', 2, 1, 20), ('b', 1, 1, 30))
      |  AS x(t, d, s, v)
      |ORDER BY t, d, s""".stripMargin

  // C65c — CQL token-range paging through the front door: the
  // `WHERE token(pk) > ? AND token(pk) <= ?` full-scan/paging/repair
  // idiom lands on the C41 physical token-range scan (Summary/
  // manifest pruning before the merge). Identity tokens on the
  // default layout, so the oracle is a pk range.
  private def cqlTokenRange(s: SparkSession, d: String): DataFrame = {
    val dir = CellSnapshots.ensure(s, d)
    graft.cql.Cql.execute(s,
      s"SELECT pk, ck, col, value FROM $dir " +
        "WHERE token(pk) > 500 AND token(pk) <= 1500 " +
        "ORDER BY pk, ck, col")
  }

  private val cqlTokenRangeSql = cte +
    """SELECT pk, ck, col, value FROM merged
      |WHERE pk > 500 AND pk <= 1500
      |ORDER BY pk, ck, col""".stripMargin

  // C65d — CQL `SELECT DISTINCT pk` (+ token paging, the Cassandra
  // partition-enumeration idiom): distinct partition keys of the
  // reconciled view — a tombstoned-away partition must NOT appear.
  private def cqlDistinct(s: SparkSession, d: String): DataFrame = {
    val dir = CellSnapshots.ensure(s, d)
    graft.cql.Cql.execute(s,
      s"SELECT DISTINCT pk FROM $dir WHERE token(pk) > 1000 ORDER BY pk")
  }

  private val cqlDistinctSql = cte +
    """SELECT DISTINCT pk FROM merged
      |WHERE pk > 1000 ORDER BY pk""".stripMargin

  // C65e — CQL global aggregates (no GROUP BY): count/min/max over
  // the reconciled relation through the front door.
  private def cqlGlobalAgg(s: SparkSession, d: String): DataFrame = {
    val dir = CellSnapshots.ensure(s, d)
    graft.cql.Cql.execute(s,
      s"SELECT count(*) AS n_cells, min(wt) AS first_wt, " +
        s"max(wt) AS last_wt FROM $dir")
  }

  private val cqlGlobalAggSql = cte +
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
      |  MIN(wt) AS first_wt, MAX(wt) AS last_wt
      |FROM merged""".stripMargin

  // C65f — CQL data-column predicate served by a registered secondary
  // index, no ALLOW FILTERING (Cassandra's own contract): the front
  // door finds the index in the table's registry, restricts the base
  // to the hit pks through the C18 point-scan machinery, and
  // re-applies the predicate on the fetched cells (index false
  // positives drop on the base re-read).
  private def cqlIndexedWhere(s: SparkSession, d: String): DataFrame = {
    val dir = CellSnapshots.ensure(s, d)
    val idx = CellSnapshots.ensureIndexed(s, d)
    // idempotent: expose the fixture's index through the registry the
    // front door consults (the snapshot is immutable after build, so
    // registration adds no write-path work)
    graft.sources.CellIndex.register(dir, idx)
    graft.cql.Cql.execute(s,
      s"SELECT pk, ck, value FROM $dir WHERE qty = 2500 ORDER BY pk, ck")
  }

  private val cqlIndexedWhereSql = cte +
    """SELECT pk, ck, value FROM merged
      |WHERE col = 'qty' AND value = 2500
      |ORDER BY pk, ck""".stripMargin

  // C49c — grouped pushdown extended to a CLUSTERING-column prefix
  // (Cassandra 3.10's `GROUP BY pk, ck`): one group per reconciled
  // ROW, counting its live cells. Winners stream (pk, ck, col)-sorted
  // out of the merge cursor, so the (pk, ck) fold is as O(1)-state and
  // exchange-free as C49's per-partition fold — the group never spans
  // a token range.
  private def rowStats(s: SparkSession, d: String): DataFrame =
    CellSnapshots.readReconciled(s, d)
      .groupBy(col("pk"), col("ck"))
      .agg(expr("count(*)").as("n_cells"), max(col("wt")).as("last_wt"))
      .orderBy(col("pk"), col("ck"))

  private val rowStatsSql = cte +
    """SELECT pk, ck, CAST(COUNT(*) AS BIGINT) AS n_cells,
      |  MAX(wt) AS last_wt
      |FROM merged
      |GROUP BY pk, ck ORDER BY pk, ck""".stripMargin

  // C48 — READ repair: after a quorum read of a fixed pk probe set,
  // CellMaintenance.readRepair shipped each replica the versions it
  // lacked for EXACTLY those partitions (scoped per-read convergence,
  // vs C42's full anti-entropy sweep). Replica A — missing every
  // 'price' cell in [1000, 3000) before the repair — now answers a
  // SOLO reconciled read of the probe set identically to the
  // full-table merge; the probe reads through the pushed `pk IN`
  // multiget on both the repair and this query.
  private def readRepairRead(s: SparkSession, d: String): DataFrame = {
    val (dirA, _) = CellSnapshots.ensureReadRepaired(s, d)
    s.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(dirA)
      .filter(col("pk").isin(CellSnapshots.ReadRepairPks: _*))
      .orderBy(col("pk"), col("ck"), col("col"))
  }

  private val readRepairSql = cte +
    s"""SELECT pk, ck, col, value, wt FROM merged
       |WHERE pk IN (${CellSnapshots.ReadRepairPks.mkString(", ")})
       |ORDER BY pk, ck, col""".stripMargin

  // C50 — HINTED handoff: replica A was down while the price cells of
  // pk ∈ [200, 700) were written; the coordinator stored a hint
  // (writeWithHints) and replayed it when A returned (deliverHints).
  // A's solo reconciled read of a band straddling the hinted slice
  // must equal the plain merged view — the hint carried the original
  // writetimes, so LWW folds the replayed cells exactly as a direct
  // write would have.
  private def hintedHandoffRead(s: SparkSession, d: String): DataFrame = {
    val dirA = CellSnapshots.ensureHinted(s, d)
    s.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(dirA)
      .filter(col("pk") >= 150 && col("pk") < 750)
      .orderBy(col("pk"), col("ck"), col("col"))
  }

  private val hintedHandoffSql = cte +
    """SELECT pk, ck, col, value, wt FROM merged
      |WHERE pk >= 150 AND pk < 750
      |ORDER BY pk, ck, col""".stripMargin

  def all: Seq[GQuery] = Seq(
    GQuery("C50_hinted_handoff", hintedHandoffRead, Some(hintedHandoffSql)),
    GQuery("C52_paged_scan", pagedScan, Some(pagedScanSql)),
    GQuery("C52b_typed_paged_scan", typedPagedScan,
      Some(typedPagedScanSql)),
    GQuery("C36c_composite_key_scan", compositeKeyScan,
      Some(compositeKeySql)),
    GQuery("C8c_composite_multiget", compositeMultiget,
      Some(compositeMultigetSql)),
    GQuery("C64b_cql_contains", containsLifecycle, Some(containsSql)),
    GQuery("C64c_contains_indexed", containsIndexed,
      Some(containsIndexedSql)),
    GQuery("C65j_typed_ck_in", typedCkIn, Some(typedCkInSql)),
    GQuery("C15b_static_cql", staticCqlLifecycle, Some(staticCqlSql)),
    GQuery("C68_copy", copyRound, Some(copyRoundSql)),
    GQuery("C68b_copy_counter", copyCounterRound,
      Some(copyCounterRoundSql)),
    GQuery("C39c_clustering_desc", clusteringDescLifecycle,
      Some(clusteringDescSql)),
    GQuery("C49_partition_stats", partitionStats, Some(partitionStatsSql)),
    GQuery("C49c_row_stats", rowStats, Some(rowStatsSql)),
    GQuery("C63_select_json", selectJson, Some(selectJsonSql)),
    GQuery("C64_contains_index", containsIndex, Some(containsIndexSql)),
    GQuery("C65_cql_select", cqlSelect, Some(cqlSelectSql)),
    GQuery("C65b_cql_group", cqlGroup, Some(cqlGroupSql)),
    GQuery("C11c_cql_collection_write", cqlCollectionWrite,
      Some(cqlCollectionWriteSql)),
    GQuery("C11e_list_index_ops", listIndexOps, Some(listIndexOpsSql)),
    GQuery("C11f_collection_replace", collectionReplace,
      Some(collectionReplaceSql)),
    GQuery("C11g_collection_select", collectionSelect,
      Some(collectionSelectSql)),
    GQuery("C11h_map_replace", mapReplace, Some(mapReplaceSql)),
    GQuery("C11i_batch_collections", batchCollections,
      Some(batchCollectionsSql)),
    GQuery("C11i_batch_collections_typed", batchCollectionsTyped,
      Some(batchCollectionsTypedSql)),
    GQuery("C65c_cql_token_range", cqlTokenRange, Some(cqlTokenRangeSql)),
    GQuery("C65d_cql_distinct", cqlDistinct, Some(cqlDistinctSql)),
    GQuery("C65e_cql_global_agg", cqlGlobalAgg, Some(cqlGlobalAggSql)),
    GQuery("C65f_cql_indexed_where", cqlIndexedWhere,
      Some(cqlIndexedWhereSql)),
    GQuery("C65g_cql_counter", cqlCounter, Some(cqlCounterSql)),
    GQuery("C10d_counter_batch", counterBatch, Some(counterBatchSql)),
    GQuery("C65h_cql_prepared", cqlPrepared, Some(cqlPreparedSql)),
    GQuery("C65i_cql_ck_in", cqlCkIn, Some(cqlCkInSql)),
    GQuery("C55b_typed_lwt", typedLwt, Some(typedLwtSql)),
    GQuery("C55f_static_lwt", staticLwtLifecycle, Some(staticLwtSql)),
    GQuery("C55g_lwt_ttl", lwtTtlLifecycle, Some(lwtTtlSql)),
    GQuery("C72_fcall_literals", fcallLiterals, Some(fcallLiteralsSql)),
    GQuery("C72b_fcall_family", fcallFamily, Some(fcallFamilySql)),
    GQuery("C72c_fcall_select", fcallSelect, Some(fcallSelectSql)),
    GQuery("C18m_custom_index", customIndex, Some(customIndexSql)),
    GQuery("C15c_entry_writetime", entryWritetime,
      Some(entryWritetimeSql)),
    GQuery("C51d_create_like", createLike, Some(createLikeSql)),
    GQuery("C51e_alter_rename", alterRename, Some(alterRenameSql)),
    GQuery("C56b_typed_batch", typedBatch, Some(typedBatchSql)),
    GQuery("C56d_conditional_batch", conditionalBatchLifecycle,
      Some(conditionalBatchSql)),
    GQuery("C56f_conditional_batch_typed", conditionalBatchTyped,
      Some(conditionalBatchTypedSql)),
    GQuery("C10c_typed_counter", typedCounter, Some(typedCounterSql)),
    GQuery("C11d_typed_collections", typedCollections,
      Some(typedCollectionsSql)),
    GQuery("C5d_prefix_tombstone", prefixTombstoneLifecycle,
      Some(prefixTombstoneSql)),
    GQuery("C28d_default_ttl", defaultTtlLifecycle, Some(defaultTtlSql)),
    GQuery("C67_system_schema", systemSchemaRound,
      Some(systemSchemaSql)),
    GQuery("C67b_system_local", systemLocalRound,
      Some(systemLocalSql)),
    GQuery("C67c_size_estimates", sizeEstimatesRound,
      Some(sizeEstimatesSql)),
    GQuery("C49b_typed_partition_stats", typedPartitionStats,
      Some(typedPartitionStatsSql)),
    GQuery("C48_read_repair", readRepairRead, Some(readRepairSql)),
    GQuery("C47_quorum_read", quorumRead, Some(quorumReadSql)),
    GQuery("C28b_cell_ttl_scan", cellTtlScan, Some(cellTtlSql)),
    GQuery("C28c_typed_ttl_scan", typedTtlScan, Some(typedTtlSql)),
    GQuery("C58_dropped_columns", droppedColumnsScan,
      Some(droppedColumnsSql)),
    GQuery("C59_frozen_udt", frozenUdtScan, Some(frozenUdtSql)),
    GQuery("C59b_udt_cql", udtCqlLifecycle, Some(udtCqlSql)),
    GQuery("C59d_unfrozen_udt", unfrozenUdtLifecycle,
      Some(unfrozenUdtSql)),
    GQuery("C59e_typed_unfrozen_udt", typedUnfrozenUdtLifecycle,
      Some(typedUnfrozenUdtSql)),
    GQuery("C67d_udt_metadata", udtMetadataRound, Some(udtMetadataSql)),
    GQuery("C67e_alter_type", alterTypeLifecycle, Some(alterTypeSql)),
    GQuery("C18i_prefix_like", prefixLike, Some(prefixLikeSql)),
    GQuery("C65o_text_values", textValuesLifecycle,
      Some(textValuesSql)),
    GQuery("C65p_blob_values", blobValuesLifecycle,
      Some(blobValuesSql)),
    GQuery("C65q_scalar_values", scalarValuesLifecycle,
      Some(scalarValuesSql)),
    GQuery("C65x_mapped_collections", mappedCollectionsLifecycle,
      Some(mappedCollectionsSql)),
    GQuery("C65r_mapped_values", mappedValuesLifecycle,
      Some(mappedValuesSql)),
    GQuery("C65s_duration_values", durationValuesLifecycle,
      Some(durationValuesSql)),
    GQuery("C65v_ascii_values", asciiValuesLifecycle,
      Some(asciiValuesSql)),
    GQuery("C65t_cql_cast", cqlCastLifecycle, Some(cqlCastSql)),
    GQuery("C63b_typed_json", typedJsonLifecycle, Some(typedJsonSql)),
    GQuery("C55c_mapped_lwt", mappedLwtLifecycle, Some(mappedLwtSql)),
    GQuery("C65u_mapped_aggs", mappedAggsLifecycle,
      Some(mappedAggsSql)),
    GQuery("C67f_index_metadata", indexMetadataRound,
      Some(indexMetadataSql)),
    GQuery("C51c_table_options", tableOptionsRound,
      Some(tableOptionsSql)),
    GQuery("C67g_keyspace_dump", keyspaceDumpRound,
      Some(keyspaceDumpSql)),
    GQuery("C36d_uuid_keys", uuidKeysLifecycle, Some(uuidKeysSql)),
    GQuery("C70_vector_ann", vectorAnnLifecycle, Some(vectorAnnSql)),
    GQuery("C70e_similarity_select", similaritySelectLifecycle,
      Some(similaritySelectSql)),
    GQuery("C70b_restricted_ann", restrictedAnnLifecycle,
      Some(restrictedAnnSql)),
    GQuery("C70c_filtered_ann", filteredAnnLifecycle,
      Some(filteredAnnSql)),
    GQuery("C56e_text_conditional_batch", textConditionalBatchLifecycle,
      Some(textConditionalBatchSql)),
    GQuery("C70d_typed_vector_ann", typedVectorAnnLifecycle,
      Some(typedVectorAnnSql)),
    GQuery("C65y_mapped_cast", mappedCastLifecycle,
      Some(mappedCastSql)),
    GQuery("C65z_declared_collections", declaredCollectionsLifecycle,
      Some(declaredCollectionsSql)),
    GQuery("C64d_entries_index", entriesIndexLifecycle,
      Some(entriesIndexSql)),
    GQuery("C55d_lwt_operators", lwtOperatorsLifecycle,
      Some(lwtOperatorsSql)),
    GQuery("C55e_lwt_multi", lwtMultiLifecycle, Some(lwtMultiSql)),
    GQuery("C55h_lwt_ordered_mapped", lwtOrderedMapped,
      Some(lwtOrderedMappedSql)),
    GQuery("C55i_udt_lwt", udtLwtLifecycle, Some(udtLwtSql)),
    GQuery("C55j_lwt_scalar_types", lwtScalarTypes,
      Some(lwtScalarTypesSql)),
    GQuery("C11j_map_entry_lwt", mapEntryLwt, Some(mapEntryLwtSql)),
    GQuery("C11k_coll_eq_lwt", collEqLwt, Some(collEqLwtSql)),
    GQuery("C71_cql_functions", cqlFunctionsLifecycle,
      Some(cqlFunctionsSql)),
    GQuery("C18j_contains_like", containsLikeLifecycle,
      Some(containsLikeSql)),
    GQuery("C18k_ci_like", ciLikeLifecycle, Some(ciLikeSql)),
    GQuery("C18l_suffix_like", suffixLikeLifecycle, Some(suffixLikeSql)),
    GQuery("C59c_typed_udt", typedUdtLifecycle, Some(typedUdtSql)),
    GQuery("C61_range_movement", rangeMovementRead,
      Some(rangeMovementSql)),
    GQuery("C42c_typed_repair", typedRepairRead, Some(typedRepairReadSql)),
    GQuery("C44_value_zone_scan", valueZoneScan, Some(valueZoneSql)),
    GQuery("C43_snapshot_read", snapshotRead, Some(snapshotReadSql)),
    GQuery("C42_repair_read", repairRead, Some(repairReadSql)),
    GQuery("C42b_repair_diff", repairDiff, Some(repairDiffSql)),
    GQuery("C41_token_range_scan", tokenRangeScan, Some(tokenRangeSql)),
    GQuery("C41b_token_split_union", tokenSplitUnion,
      Some(tokenSplitUnionSql)),
    GQuery("C40_materialized_view", materializedView,
      Some(materializedViewSql)),
    GQuery("C40b_typed_base_view", typedBaseViewScan,
      Some(typedBaseViewSql)),
    GQuery("C40c_composite_base_view", compositeViewScan,
      Some(compositeViewSql)),
    GQuery("C18g_typed_base_index", typedBaseIdxScan,
      Some(typedBaseIdxSql)),
    GQuery("C18h_composite_base_index", compositeIdxScan,
      Some(compositeIdxSql)),
    GQuery("C37b_typed_slice", typedSlice, Some(typedSliceSql)),
    GQuery("C38b_typed_delete", typedDelete, Some(typedDeleteSql)),
    GQuery("C39b_typed_reverse", typedReverse, Some(typedReverseSql)),
    GQuery("C39_reverse_latest", reverseLatest, Some(reverseLatestSql)),
    GQuery("C38_delete_tombstones", deleteTombstones,
      Some(deleteTombstonesSql)),
    GQuery("C37_clustering_slice", clusteringSlice,
      Some(clusteringSliceSql)),
    GQuery("C36_typed_key_scan", typedKeyScan, Some(typedKeyScanSql)),
    GQuery("C36b_typed_key_multiget", typedKeyMultiget,
      Some(typedKeyMultigetSql)),
    GQuery("C24_reconcile_scan", reconcileScan, Some(lwwSql)),
    GQuery("C27_tombstone_scan", tombstoneScan, Some(tombstoneSql)),
    GQuery("C5b_range_tombstone_scan", rangeTombstoneScan,
      Some(rangeTombstoneSql)),
    GQuery("C10b_counter_scan", counterScan, Some(counterScanSql)),
    GQuery("C11b_collection_scan", listScan, Some(listScanSql)),
    GQuery("C18b_index_scan", secondaryIdxScan, Some(secondaryIdxSql)),
    GQuery("C18e_range_index_scan", rangeIdxScan, Some(rangeIdxSql)),
    GQuery("C18c_string_index", stringIdxScan, Some(stringIdxSql)),
    GQuery("C8b_multiget", multiget, Some(multigetSql)),
    GQuery("C28_ttl_scan", ttlScan, Some(ttlSql)),
    GQuery("C29_full_read_path", fullReadPath, Some(fullReadPathSql)),
    GQuery("C14b_typed_connector_scan", typedConnector,
      Some(typedConnectorSql)),
    GQuery("C22_per_partition_limit", perPartitionLimit,
      Some(perPartitionLimitSql)),
    GQuery("C23_range_digest", rangeDigest, Some(rangeDigestSql)),
    GQuery("C20_header_agg", headerAgg, Some(headerAggSql)),
    GQuery("C18_secondary_index", secondaryIdx, Some(secondaryIdxSql)),
    GQuery("C17_compaction", compaction, Some(compactionSql)),
    GQuery("C1_sstable_scan", scan, Some(scanSql)),
    GQuery("C3_cell_deserialize", deserialize, Some(deserializeSql)),
    GQuery("C4_lww_merge", lww, Some(lwwSql)),
    GQuery("C5_tombstone_filter", tombstone, Some(tombstoneSql)),
    GQuery("C6_ttl_expiry", ttl, Some(ttlSql)),
    GQuery("C7_clustering_decode", clustering, Some(clusteringSql)),
    GQuery("C8_pk_pushdown", pkPushdown, Some(pkPushdownSql)),
    GQuery("C9_col_pruning", colPruning, Some(colPruningSql)),
    GQuery("C10_counter_merge", counter, Some(counterSql)),
    GQuery("C11_collection_reassemble", reassemble, Some(reassembleSql)),
    GQuery("C5b_range_tombstone", rangeTombstone, Some(rangeTombstoneSql)),
    GQuery("C12_map_reassemble", mapReassemble, Some(mapReassembleSql)),
    GQuery("C13_set_reassemble", setReassemble, Some(setReassembleSql)),
    GQuery("C14_typed_decode", typedDecode, Some(typedDecodeSql)),
    GQuery("C15_static_columns", statics, Some(staticsSql)),
    GQuery("C16_incremental_scan", incremental, Some(incrementalSql)))
}
