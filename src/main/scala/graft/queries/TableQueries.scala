package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.oracle.Derive
import Shared.customerPts

/** Iceberg-shaped table layer (snapshots, deletes, compaction, schema
  * evolution, branches and tags) and the checkpointed resume plan.
  */
object TableQueries {
  val all: Seq[Query] = Seq(
    // ---- A1: Iceberg-shaped table layer — two-snapshot append + current
    //      read must equal the plain source (snapshot/commit machinery
    //      proven equivalent; time travel + pruning gated in IcebergLiteSpec)
    Query("q0b_iceberg_scan", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q0b").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 1), key)
      graft.sources.IcebergLite.read(s, tbl)
        .select("c_custkey", "lonm", "latm").orderBy("c_custkey")
    },
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm,
         |${Derive.latSql("c_custkey")} AS latm
         |FROM customer ORDER BY c_custkey""".stripMargin),
    // ---- A1 terminal verb: copy-on-write row-level DELETE — two appends,
    //      then delete-by-predicate producing a third snapshot; the current
    //      read must equal the oracle's anti-filter. Untouched-file reuse +
    //      time travel across the delete are gated in IcebergLiteSpec.
    Query("q0h_iceberg_delete", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q0h").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 1), key)
      graft.sources.IcebergLite.deleteWhere(s, tbl, col("c_custkey") % 10 === 3, key)
      graft.sources.IcebergLite.read(s, tbl)
        .select("c_custkey", "lonm", "latm").orderBy("c_custkey")
    },
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm,
         |${Derive.latSql("c_custkey")} AS latm
         |FROM customer WHERE NOT c_custkey % 10 = 3 ORDER BY c_custkey""".stripMargin),
    // ---- A1 layout maintenance: many micro-batch appends → one compaction
    //      rewrite (bin-pack + cluster on the zcell stats key). Rows must be
    //      IDENTICAL to the plain source — compaction changes layout only.
    //      File-count reduction + pruning improvement gated in IcebergLiteSpec.
    Query("q0m_iceberg_compact", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q0m").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      (0 until 6).foreach { i =>
        graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 6 === i), key)
      }
      graft.sources.IcebergLite.compact(s, tbl, targetFileRows = 600L)
      graft.sources.IcebergLite.read(s, tbl)
        .select("c_custkey", "lonm", "latm").orderBy("c_custkey")
    },
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm,
         |${Derive.latSql("c_custkey")} AS latm
         |FROM customer ORDER BY c_custkey""".stripMargin),
    // ---- A1 incremental read: rows of data files ADDED between two
    //      snapshots (the downstream-consumer "what arrived since v1" verb).
    //      Three appends split by c_custkey%3; changes v1→v3 = splits 1,2.
    Query("q72_iceberg_changes", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q72").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      (0 until 3).foreach { i =>
        graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 3 === i), key)
      }
      graft.sources.IcebergLite.readChanges(s, tbl, fromVersion = 1)
        .select("c_custkey", "lonm", "latm").orderBy("c_custkey")
    },
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm,
         |${Derive.latSql("c_custkey")} AS latm
         |FROM customer WHERE c_custkey % 3 IN (1, 2) ORDER BY c_custkey""".stripMargin),
    // ---- A1 maintenance: snapshot expiration + orphan-file removal after
    //      a compaction rewrite — history bounded, current rows unchanged
    //      (the oracle is the full row set; IcebergLiteSpec gates the
    //      physical deletes and the retained-window time travel).
    Query("q73_iceberg_expire", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q73").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      (0 until 6).foreach { i =>
        graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 6 === i), key)
      }
      graft.sources.IcebergLite.compact(s, tbl, targetFileRows = 600L)
      graft.sources.IcebergLite.expireSnapshots(tbl, retainLast = 1)
      graft.sources.IcebergLite.read(s, tbl)
        .select("c_custkey", "lonm", "latm").orderBy("c_custkey")
    },
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm,
         |${Derive.latSql("c_custkey")} AS latm
         |FROM customer ORDER BY c_custkey""".stripMargin),
    // ---- A1 merge-on-read DELETE (Iceberg v2 equality deletes): the
    //      100 TB point-delete shape — a delete commit writes only the
    //      matched keys (no data-file rewrite; spec-gated), readers
    //      anti-merge at scan time, and compact folds the delete debt.
    //      Read after fold must equal the plain anti-filter.
    Query("q76_iceberg_mor_delete", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q76").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 1), key)
      graft.sources.IcebergLite.deleteWhereMoR(s, tbl, col("c_custkey") % 10 === 3, "c_custkey")
      graft.sources.IcebergLite.compact(s, tbl) // folds the delete files
      graft.sources.IcebergLite.read(s, tbl)
        .select("c_custkey", "lonm", "latm").orderBy("c_custkey")
    },
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm,
         |${Derive.latSql("c_custkey")} AS latm
         |FROM customer WHERE NOT c_custkey % 10 = 3 ORDER BY c_custkey""".stripMargin),
    // ---- A1 POSITION delete (Iceberg v2's second delete-file kind): the
    //      predicate runs on a NON-key column (latm), so an equality delete
    //      would first have to materialize keys — the position delete
    //      records (file, row-position) pairs directly. Sequence rule for
    //      free: the re-appended %7==2 evens are byte-identical to deleted
    //      rows yet survive (their file postdates the delete). An equality
    //      delete stacks on top (mixed generations), compact folds both.
    Query("q7i_iceberg_pos_delete", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q7i").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts, key)
      graft.sources.IcebergLite.deleteWhereMoRPos(s, tbl, col("c_custkey") % 7 === 2)
      graft.sources.IcebergLite.append(s, tbl,
        pts.where(col("c_custkey") % 7 === 2 && col("c_custkey") % 2 === 0), key)
      graft.sources.IcebergLite.deleteWhereMoR(s, tbl,
        col("c_custkey") % 10 === 5, "c_custkey")
      graft.sources.IcebergLite.compact(s, tbl) // folds both delete kinds
      graft.sources.IcebergLite.read(s, tbl)
        .select("c_custkey", "lonm").orderBy("c_custkey")
    },
      s"""WITH merged AS (
         |  SELECT c_custkey FROM customer WHERE c_custkey % 7 <> 2
         |  UNION ALL
         |  SELECT c_custkey FROM customer
         |  WHERE c_custkey % 7 = 2 AND c_custkey % 2 = 0)
         |SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm
         |FROM merged WHERE c_custkey % 10 <> 5 ORDER BY c_custkey""".stripMargin),
    // ---- A1 layout migration: Z-ORDER SORT REWRITE + file-skipping bbox
    //      scan (Iceberg's rewrite_data_files strategy=sort, zorder(lon,lat)).
    //      Ingest lands round-robin (every file spans ~the whole z-range:
    //      zero skipping possible), one rewriteClustered re-sorts the table
    //      on the Morton z-key, then a bbox query plans from the MANIFEST:
    //      pruneRead keeps only files whose [min,max] z-range meets the
    //      bbox's cover cells — the scan never opens the rest. require()
    //      proves skipping actually happened; values oracle against the
    //      plain bbox filter. Skip-ratio scaling gated in IcebergLiteSpec.
    Query("q7l_zorder_prune", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q7l").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 8)
      graft.sources.IcebergLite.append(s, tbl, pts.repartition(8), key)
      graft.sources.IcebergLite.rewriteClustered(s, tbl, key, targetFileRows = 256L)
      val bbox = graft.core.BBoxM(10000000L, 5000000L, 80000000L, 60000000L)
      val cells = graft.core.ZGrid.bboxCells(8, bbox)
        .map { case (x, y) => graft.core.Morton.encode(x, y) }.toSet
      val (scan, kept, total) = graft.sources.IcebergLite.pruneRead(s, tbl, cells)
      require(kept < total, s"z-order pruning must skip files (kept=$kept of $total)")
      scan.where(col("lonm").between(10000000L, 80000000L) &&
                 col("latm").between(5000000L, 60000000L))
        .agg(count(lit(1)).as("n_pts"), sum(col("c_custkey")).as("sum_key"))
    },
      s"""SELECT CAST(count(*) AS BIGINT) AS n_pts,
         |  CAST(sum(c_custkey) AS BIGINT) AS sum_key
         |FROM customer
         |WHERE ${Derive.lonSql("c_custkey")} BETWEEN 10000000 AND 80000000
         |  AND ${Derive.latSql("c_custkey")} BETWEEN 5000000 AND 60000000""".stripMargin),
    // ---- A1 replication: incremental table-to-table SYNC (Iceberg
    //      streaming read + exactly-once sink): bootstrap full snapshot,
    //      then ship only appended files; the consumed source version is
    //      the stream marker INSIDE each destination commit, so the replay
    //      call between syncs is a provable no-op (a double-apply would
    //      double rows and fail the oracle hash).
    Query("q7n_incremental_sync", (s, dir) => {
      val src = java.nio.file.Files.createTempDirectory("graft_iclite_q7n_src").toString
      val dst = java.nio.file.Files.createTempDirectory("graft_iclite_q7n_dst").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, src, pts.where(col("c_custkey") % 3 === 0), key)
      graft.sources.IcebergLite.append(s, src, pts.where(col("c_custkey") % 3 === 1), key)
      graft.sources.IcebergLite.syncIncremental(s, src, dst, key, "rep") // bootstrap
      graft.sources.IcebergLite.syncIncremental(s, src, dst, key, "rep") // replay no-op
      graft.sources.IcebergLite.append(s, src, pts.where(col("c_custkey") % 3 === 2), key)
      graft.sources.IcebergLite.syncIncremental(s, src, dst, key, "rep") // increment
      graft.sources.IcebergLite.read(s, dst)
        .select("c_custkey", "lonm", "latm").orderBy("c_custkey")
    },
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm,
         |  ${Derive.latSql("c_custkey")} AS latm
         |FROM customer ORDER BY c_custkey""".stripMargin),
    // ---- A1 CDC MIRROR: full replication incl. MoR deletes, applied IN
    //      VERSION ORDER (delete-then-re-append must survive — a naive
    //      all-inserts-then-all-deletes replay fails this exact workload).
    //      Bootstrap after v1, then the walk applies append/delete/append/
    //      delete/re-append; mirror read == source read == oracle.
    Query("q7s_cdc_mirror", (s, dir) => {
      val src = java.nio.file.Files.createTempDirectory("graft_iclite_q7s_src").toString
      val dst = java.nio.file.Files.createTempDirectory("graft_iclite_q7s_dst").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      val I = graft.sources.IcebergLite
      I.append(s, src, pts.where(col("c_custkey") % 2 === 1), key)      // v1 odds
      I.syncCdcMirror(s, src, dst, key, "cdc")                          // bootstrap
      I.deleteWhereMoR(s, src, col("c_custkey") % 10 === 1, "c_custkey") // v2
      I.append(s, src, pts.where(col("c_custkey") % 2 === 0), key)      // v3 evens
      I.deleteWhereMoR(s, src, col("c_custkey") % 10 === 2, "c_custkey") // v4
      I.append(s, src, pts.where(col("c_custkey") % 10 === 1), key)     // v5 re-append
      I.syncCdcMirror(s, src, dst, key, "cdc")                          // walk v2..v5
      I.syncCdcMirror(s, src, dst, key, "cdc")                          // replay no-op
      I.read(s, dst).select("c_custkey", "lonm").orderBy("c_custkey")
    },
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm
         |FROM customer
         |WHERE c_custkey % 2 = 1
         |   OR (c_custkey % 2 = 0 AND c_custkey % 10 <> 2)
         |ORDER BY c_custkey""".stripMargin),
    // ---- A1 metadata tables: the table's own manifest AS a DataFrame
    //      (Iceberg's table$history) — commit lineage + exact row/delete
    //      counters per version, zero data-file I/O. The verb chain is
    //      append/append/MoR-delete/compact; the oracle recomputes each
    //      version's counters from the raw table.
    Query("q7j_iceberg_history", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q7j").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 1), key)
      graft.sources.IcebergLite.deleteWhereMoR(s, tbl,
        col("c_custkey") % 10 === 3, "c_custkey")
      graft.sources.IcebergLite.compact(s, tbl)
      graft.sources.IcebergLite.historyTable(s, tbl)
        .select("version", "data_rows", "delete_rows").orderBy("version")
    },
      s"""WITH c AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ev,
         |  CAST(sum(CASE WHEN c_custkey % 10 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS del
         |  FROM customer)
         |SELECT 1 AS version, ev AS data_rows, CAST(0 AS BIGINT) AS delete_rows FROM c
         |UNION ALL SELECT 2, n, CAST(0 AS BIGINT) FROM c
         |UNION ALL SELECT 3, n, del FROM c
         |UNION ALL SELECT 4, n - del, CAST(0 AS BIGINT) FROM c
         |ORDER BY version""".stripMargin),
    // ---- A1 schema evolution: addColumn is a metadata-only commit; files
    //      written before it read back with the column null-backfilled,
    //      files after carry it physically — one scan crosses the
    //      evolution boundary (per-snapshot schema travel spec-gated).
    Query("q77_iceberg_evolve", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q77").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      graft.sources.IcebergLite.addColumn(s, tbl, "flag", "BIGINT")
      graft.sources.IcebergLite.append(s, tbl,
        pts.where(col("c_custkey") % 2 === 1).withColumn("flag", col("c_custkey") % 5), key)
      graft.sources.IcebergLite.read(s, tbl)
        .select("c_custkey", "lonm", "flag").orderBy("c_custkey")
    },
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm,
         |CASE WHEN c_custkey % 2 = 1 THEN c_custkey % 5 ELSE NULL END AS flag
         |FROM customer ORDER BY c_custkey""".stripMargin),
    // ---- A1 full schema-evolution verb set: RENAME (old files read-mapped
    //      via the col-op ledger, zero data files touched), DROP, and
    //      re-ADD of a dropped name (pre-re-add files read NULL — dropped
    //      data never resurrects, the Iceberg field-id rule). The output
    //      mixes all three epochs in one scan.
    Query("q80_iceberg_rename", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q80").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      val I = graft.sources.IcebergLite
      // epoch 1: evens, columns (c_custkey, lonm, latm)
      I.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      I.renameColumn(s, tbl, "lonm", "lon_micro")
      I.dropColumn(s, tbl, "latm")
      // epoch 2: odds %4==1 under the renamed/narrowed schema
      I.append(s, tbl, pts.where(col("c_custkey") % 4 === 1)
        .withColumnRenamed("lonm", "lon_micro").drop("latm"), col("lon_micro"))
      // re-add the dropped name: epoch-1 files must read it as NULL
      I.addColumn(s, tbl, "latm", "BIGINT")
      // epoch 3: odds %4==3 with real latm values again
      I.append(s, tbl, pts.where(col("c_custkey") % 4 === 3)
        .withColumnRenamed("lonm", "lon_micro"), col("lon_micro"))
      I.read(s, tbl).select("c_custkey", "lon_micro", "latm").orderBy("c_custkey")
    },
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lon_micro,
         |  CASE WHEN c_custkey % 4 = 3 THEN ${Derive.latSql("c_custkey")}
         |       ELSE NULL END AS latm
         |FROM customer ORDER BY c_custkey""".stripMargin),
    // ---- A1 CHANGELOG scan (CDC): inserts from window-appended files +
    //      full-content delete rows restored from the pre-delete snapshot
    //      (version d.seq−1 ⋉ delete keys). from=v1 here, so the odd-key
    //      append is the insert set and EVERY %10==3 row (evens included —
    //      they predate the window) is a delete event; odd %10==3 rows
    //      emit BOTH events, the standard changelog double-event contract.
    Query("q7c_iceberg_cdc", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q7c").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 1), key)
      graft.sources.IcebergLite.deleteWhereMoR(s, tbl, col("c_custkey") % 10 === 3, "c_custkey")
      graft.sources.IcebergLite.readChangesCdc(s, tbl, 1)
        .select("c_custkey", "lonm", "_change_type")
        .orderBy("c_custkey", "_change_type")
    },
      s"""WITH ev AS (SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm,
         |  'insert' AS _change_type FROM customer WHERE c_custkey % 2 = 1
         |  UNION ALL
         |  SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm,
         |  'delete' AS _change_type FROM customer WHERE c_custkey % 10 = 3)
         |SELECT * FROM ev ORDER BY c_custkey, _change_type""".stripMargin),
    // ---- A1 ROLLBACK verb: a bad MoR delete (%10==3) is undone by
    //      rollbackTo(v2) — a pure metadata commit restoring v2's exact
    //      file/delete/schema state — then writes continue on the restored
    //      line (a correct MoR delete of %10==7). Read = all customers
    //      minus %10==7: the undone delete leaves NO trace, the new one
    //      applies. Timestamp travel + no-data-file-writes are spec-gated.
    Query("q7e_iceberg_rollback", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q7e").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 1), key)
      graft.sources.IcebergLite.deleteWhereMoR(s, tbl, col("c_custkey") % 10 === 3, "c_custkey")
      graft.sources.IcebergLite.rollbackTo(tbl, 2)
      graft.sources.IcebergLite.deleteWhereMoR(s, tbl, col("c_custkey") % 10 === 7, "c_custkey")
      graft.sources.IcebergLite.read(s, tbl)
        .select("c_custkey", "lonm").orderBy("c_custkey")
    },
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm
         |FROM customer WHERE c_custkey % 10 <> 7 ORDER BY c_custkey""".stripMargin),
    // ---- A1 WRITE-AUDIT-PUBLISH: the 100 TB ingestion audit gate. Odd
    //      customers are STAGED (invisible to the table), audited by
    //      version, then published by fast-forward; a second stage (every
    //      11th customer cloned under key+1000000) publishes by CHERRY-PICK
    //      because main moved during its audit (a MoR delete of %10==3).
    //      Cherry-picked files re-sequence AFTER the delete, so no clone
    //      loses rows to it — and the delete keys were collected before the
    //      clones existed, so the final table is (all customers − %10==3)
    //      + all clones. Stage-invisibility, pointer-only fast-forward, and
    //      the schema/append-only cherry-pick guards are spec-gated.
    Query("q7f_iceberg_wap", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q7f").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      val st1 = graft.sources.IcebergLite.stageAppend(s, tbl,
        pts.where(col("c_custkey") % 2 === 1), key)
      graft.sources.IcebergLite.publish(tbl, st1) // fast-forward
      val st2 = graft.sources.IcebergLite.stageAppend(s, tbl,
        pts.where(col("c_custkey") % 11 === 0)
          .withColumn("c_custkey", col("c_custkey") + 1000000L), key)
      graft.sources.IcebergLite.deleteWhereMoR(s, tbl,
        col("c_custkey") % 10 === 3, "c_custkey") // main moves mid-audit
      graft.sources.IcebergLite.publish(tbl, st2) // cherry-pick
      graft.sources.IcebergLite.read(s, tbl)
        .select("c_custkey", "lonm").orderBy("c_custkey")
    },
      s"""WITH merged AS (
         |  SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm
         |  FROM customer WHERE c_custkey % 10 <> 3
         |  UNION ALL
         |  SELECT c_custkey + 1000000, ${Derive.lonSql("c_custkey")} AS lonm
         |  FROM customer WHERE c_custkey % 11 = 0)
         |SELECT c_custkey, lonm FROM merged ORDER BY c_custkey""".stripMargin),
    // ---- A1 TAG: the reproducible-training-corpus pin. Even customers
    //      land in v1 and get tagged "train-v1"; the table then moves on
    //      (odd append, MoR delete, compact fold) and old snapshots are
    //      expired with retainLast=1 — yet the tag still reads EXACTLY the
    //      v1 corpus, because expiration never reclaims a ref target.
    Query("q7g_iceberg_tag", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q7g").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      graft.sources.IcebergLite.tag(tbl, "train-v1")
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 1), key)
      graft.sources.IcebergLite.deleteWhereMoR(s, tbl,
        col("c_custkey") % 10 === 3, "c_custkey")
      graft.sources.IcebergLite.compact(s, tbl)
      graft.sources.IcebergLite.expireSnapshots(tbl, retainLast = 1)
      graft.sources.IcebergLite.readTag(s, tbl, "train-v1")
        .select("c_custkey", "lonm").orderBy("c_custkey")
    },
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm
         |FROM customer WHERE c_custkey % 2 = 0 ORDER BY c_custkey""".stripMargin),
    // ---- A1 BRANCH: multi-commit write-audit-publish. Base = evens;
    //      branch "ingest" appends odds, then RE-APPENDS the %10==4 evens
    //      (same keys); main moves mid-audit with a MoR delete of %10==4.
    //      publishBranch cherry-picks BOTH branch commits re-sequenced
    //      AFTER the delete, so the re-appended rows survive it — the
    //      final table is exactly all customers, each once.
    Query("q7h_iceberg_branch", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q7h").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      graft.sources.IcebergLite.createBranch(tbl, "ingest")
      graft.sources.IcebergLite.appendToBranch(s, tbl, "ingest",
        pts.where(col("c_custkey") % 2 === 1), key)
      graft.sources.IcebergLite.appendToBranch(s, tbl, "ingest",
        pts.where(col("c_custkey") % 10 === 4), key)
      graft.sources.IcebergLite.deleteWhereMoR(s, tbl,
        col("c_custkey") % 10 === 4, "c_custkey") // main moves mid-audit
      graft.sources.IcebergLite.publishBranch(tbl, "ingest") // cherry-pick
      graft.sources.IcebergLite.read(s, tbl)
        .select("c_custkey", "lonm").orderBy("c_custkey")
    },
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm
         |FROM customer ORDER BY c_custkey""".stripMargin),
    // ---- A1 upsert verb: copy-on-write MERGE — updates shift lon for every
    //      7th customer, inserts clone every 11th under a shifted key; only
    //      files holding matched keys rewrite (gated in IcebergLiteSpec).
    Query("q0n_iceberg_merge", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q0n").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 1), key)
      val upserts = pts.where(col("c_custkey") % 7 === 0)
          .withColumn("lonm", col("lonm") + 1000L)
        .unionByName(pts.where(col("c_custkey") % 11 === 0)
          .withColumn("c_custkey", col("c_custkey") + 1000000L))
      graft.sources.IcebergLite.merge(s, tbl, upserts, "c_custkey", key)
      graft.sources.IcebergLite.read(s, tbl)
        .select("c_custkey", "lonm", "latm").orderBy("c_custkey")
    },
      s"""WITH base AS (SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm,
         |  ${Derive.latSql("c_custkey")} AS latm FROM customer),
         |merged AS (
         |  SELECT c_custkey, lonm, latm FROM base WHERE NOT c_custkey % 7 = 0
         |  UNION ALL SELECT c_custkey, lonm + 1000, latm FROM base WHERE c_custkey % 7 = 0
         |  UNION ALL SELECT c_custkey + 1000000, lonm, latm FROM base WHERE c_custkey % 11 = 0)
         |SELECT c_custkey, lonm, latm FROM merged ORDER BY c_custkey""".stripMargin),
    // ---- checkpoint/resume with per-partition lineage: a per-customer
    //      aggregation deliberately run as partial attempt + resume; the
    //      oracle checks the recovered result equals the plain aggregation
    Query("q61_checkpoint_agg", (s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_ckpt_q61").toString
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val transform: DataFrame => DataFrame =
        df => df.groupBy(col("_bucket"), col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"))
      // first attempt covers only half the buckets, second resumes the rest
      graft.plans.CheckpointedRun.runAttempt(s, orders, col("o_custkey"), transform,
        numBuckets = 8, out, "q61", maxBuckets = 4)
      graft.plans.CheckpointedRun.runToCompletion(s, orders, col("o_custkey"), transform,
          numBuckets = 8, out, "q61")
        .select("o_custkey", "n_orders").orderBy("o_custkey")
    },
      """SELECT o_custkey, count(*) AS n_orders FROM orders
        |GROUP BY 1 ORDER BY o_custkey""".stripMargin)
  )
}
