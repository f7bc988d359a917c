package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot maintenance: apply an insert/update/delete changeset to a
  * keyed snapshot — the MERGE INTO shape every curated-corpus store needs
  * once the corpus is maintained incrementally rather than rebuilt.
  *
  * Dataflow: ONE full-outer equi-join on the key (full outer because every
  * disposition needs both sides: update/delete must see the matched
  * snapshot row, insert must see the unmatched change, keep must pass
  * snapshot rows through). [[merge]] is the plain copy-on-write variant —
  * the rewritten snapshot is the output. Both 100 TB refinements keep the
  * same join and are implemented here: [[mergePrunedCow]] partition-prunes
  * the rewrite to partitions containing change keys (changes ∝ delta, so
  * most partitions pass through untouched), and [[readView]] /
  * [[readViewLog]] / [[compact]] are the merge-on-read path — the
  * changeset lands as an O(delta) delta-log append and the join folds
  * into the scan (streaming face:
  * [[graft.streaming.StreamingOps.upsertSinkMor]]).
  */
object Upsert {

  /** Apply `changes` (key, op ∈ insert|update|delete, payload) to
    * `snapshot`. Update/delete against a missing key is a no-op; insert of
    * an existing key behaves as update (upsert). `status` records each
    * output row's disposition: kept / updated / inserted. */
  def merge(snapshot: DataFrame, changes: DataFrame, key: String,
      payload: String): DataFrame = {
    val s = snapshot.select(col(key), col(payload).as("__s_payload"))
    val c = changes.select(col(key), col("op"), col(payload).as("__c_payload"))
    s.join(c, Seq(key), "full_outer")
      // matched deletes drop the row; an unmatched delete row has no
      // snapshot side and vanishes with the same predicate
      .filter(coalesce(col("op"), lit("")) =!= "delete")
      // unmatched non-insert changes (update of a missing key) are no-ops
      .filter(col("__s_payload").isNotNull || col("op") === "insert")
      .select(col(key),
        coalesce(col("__c_payload"), col("__s_payload")).as(payload),
        when(col("__s_payload").isNull, "inserted")
          .when(col("op").isNotNull, "updated")
          .otherwise("kept").as("status"))
  }

  /** Merge-on-read read view: fold an ordered sequence of change batches
    * into the base scan at READ time — base files are never rewritten
    * (that's the whole point: a 100 TB snapshot takes a multi-TB rewrite
    * per changeset under copy-on-write; under merge-on-read each changeset
    * is an O(delta) append and readers pay one reconcile join).
    *
    * Semantics are exactly sequential [[merge]] application: per key, the
    * op log (batch-ordered) is folded through the same present/absent
    * state machine — delete removes, update only touches a present row,
    * insert upserts. Implemented as collect_list per key (one shuffle of
    * the DELTA only — the log is ∝ changes, not the snapshot) + a SQL
    * `aggregate` fold, then the same full-outer reconcile join as
    * copy-on-write. `status` is the disposition relative to the base
    * snapshot: kept / updated / inserted.
    *
    * At scale the refinements are layout-side, dataflow unchanged:
    * bucket base and delta on the key so the reconcile join is
    * exchange-free, and compact the log back into base (this view IS the
    * compaction job's plan) when it outgrows its read amortization. */
  def readView(base: DataFrame, deltas: Seq[DataFrame], key: String,
      payload: String): DataFrame = {
    require(deltas.nonEmpty, "merge-on-read needs at least one delta batch")
    readViewLog(base,
      deltas.zipWithIndex.map { case (d, i) =>
        d.select(col(key), col("op"), col(payload),
          lit(i.toLong).as("__batch"))
      }.reduce(_ unionByName _),
      key, payload)
  }

  /** Time travel: reconstruct the table AS OF delta batch `asOfBatch`
    * (0-based; negative = the untouched base snapshot). Later batches stay
    * in the log but are invisible to the reader — the lakehouse as-of-read
    * (Delta `VERSION AS OF` / Iceberg snapshot read) expressed over the
    * same MOR op-log the live view folds. At scale the batch predicate is
    * partition pruning, not a scan-and-drop: delta batches land as separate
    * tables/files (see documentsUpsertMor's store layout), so batches
    * beyond the as-of point are never read at all. */
  def readViewAsOf(base: DataFrame, deltas: Seq[DataFrame], key: String,
      payload: String, asOfBatch: Int): DataFrame =
    if (asOfBatch < 0) {
      base.select(col(key), col(payload), lit("kept").as("status"))
    } else {
      readView(base, deltas.take(asOfBatch + 1), key, payload)
    }

  /** [[readView]] over an already-stamped log: `log` carries (key, op,
    * payload, __batch) with the batch sequence persisted — the shape the
    * streaming MOR sink appends — plus an optional `__seq` column ordering
    * ops WITHIN a batch. Without `__seq`, same-key ops inside one batch
    * would tie on `__batch` and fall through to the struct sort's next
    * field, replaying e.g. insert-then-delete as delete-then-insert
    * ('delete' < 'insert' alphabetically) — so when the column is absent a
    * sequence is stamped from the log's partition-major row order (file
    * order for a persisted log, source order for an in-memory batch),
    * which is arrival order for every writer in this codebase. Writers
    * with a stronger ordering authority (a CDC source with offsets)
    * should persist their own `__seq`. */
  def readViewLog(base: DataFrame, log0: DataFrame, key: String,
      payload: String): DataFrame = {
    val seq0 =
      if (log0.columns.contains("__seq")) col("__seq")
      else monotonically_increasing_id()
    val log = log0.select(col(key), col("op"),
      col(payload).as("__c_payload"), col("__batch"), seq0.as("__seq"))
    // array_sort on structs orders field-by-field: __batch first, then
    // __seq breaks intra-batch ties in arrival order — the fold sees ops
    // exactly as they were applied
    val opsPerKey = log.groupBy(col(key)).agg(
      array_sort(collect_list(
        struct(col("__batch"), col("__seq"), col("op"),
          col("__c_payload")))).as("__ops"))
    val folded = expr(
      s"""aggregate(__ops,
         |  named_struct('present', __s_payload IS NOT NULL,
         |               'payload', __s_payload),
         |  (acc, x) -> CASE
         |    WHEN x.op = 'delete' THEN
         |      named_struct('present', false, 'payload', CAST(NULL AS STRING))
         |    WHEN x.op = 'update' THEN IF(acc.present,
         |      named_struct('present', true, 'payload', x.__c_payload), acc)
         |    ELSE named_struct('present', true, 'payload', x.__c_payload)
         |  END)""".stripMargin.replaceAll("\n", " "))
    base.select(col(key), col(payload).as("__s_payload"))
      .join(opsPerKey, Seq(key), "full_outer")
      // untouched base rows have no op log (null __ops from the outer
      // join): they pass through as present — don't feed null into the fold
      .withColumn("__state", when(col("__ops").isNull,
          struct(col("__s_payload").isNotNull.as("present"),
            col("__s_payload").as("payload")))
        .otherwise(folded))
      .filter(col("__state.present"))
      .select(col(key),
        col("__state.payload").as(payload),
        when(col("__s_payload").isNull, "inserted")
          .when(col("__ops").isNotNull, "updated")
          .otherwise("kept").as("status"))
  }

  /** Partition-pruned copy-on-write merge over a hive-partitioned
    * snapshot directory: only partitions that CONTAIN change keys are
    * read and rewritten — the refinement [[merge]]'s scaladoc promises.
    * Changes ∝ delta means touched partitions ∝ delta, so a 100 TB
    * snapshot with a 1 GB changeset rewrites gigabytes, not terabytes;
    * untouched partition directories stay byte-identical (spec-asserted).
    *
    * Mechanics: the touched partition values (driver-collected — bounded
    * by the partition count of the DELTA, not the table) prune the scan;
    * the same full-outer disposition join as [[merge]] runs over just
    * those partitions; the result is localCheckpoint-pinned (it reads the
    * files the write replaces) and written with DYNAMIC partition
    * overwrite, Spark's native only-touched-partitions rewrite.
    *
    * Constraint (standard for partition-pruned merges): `partCol` must be
    * stable under update — a change may not move a key between
    * partitions, or the stale row in the old partition would survive
    * unpruned. Enforced cheaply: update/delete ops join their snapshot row
    * inside touched partitions only, and inserts land in their declared
    * partition. */
  def mergePrunedCow(s: SparkSession, dir: String, changes: DataFrame,
      key: String, payload: String, partCol: String): Seq[String] = {
    val touched = changes.select(col(partCol)).distinct()
      .collect().map(_.get(0))
    val snap = s.read.parquet(dir)
      .filter(col(partCol).isin(touched: _*))
      .select(col(key), col(partCol).as("__s_part"),
        col(payload).as("__s_payload"))
    val c = changes.select(col(key), col(partCol).as("__c_part"),
      col("op"), col(payload).as("__c_payload"))
    val merged = snap.join(c, Seq(key), "full_outer")
      .filter(coalesce(col("op"), lit("")) =!= "delete")
      .filter(col("__s_payload").isNotNull || col("op") === "insert")
      .select(col(key),
        coalesce(col("__c_payload"), col("__s_payload")).as(payload),
        coalesce(col("__c_part"), col("__s_part")).as(partCol))
      .localCheckpoint(true)
    merged.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(dir)
    // Dynamic overwrite only rewrites partitions PRESENT in `merged`: a
    // changeset that deletes every surviving row of a touched partition
    // leaves zero merged rows for it, the overwrite never touches it, and
    // the deleted rows would resurface on the next scan. Diff touched
    // against the survivors and drop the emptied partition directories
    // explicitly (bounded by the delta's partition count, like `touched`).
    val survivors = merged.select(col(partCol)).distinct()
      .collect().map(_.get(0)).toSet
    val dead = touched.filterNot(v => v == null || survivors.contains(v))
    if (dead.nonEmpty) {
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      dead.foreach { v =>
        val leaf = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .getPartitionPathString(partCol, String.valueOf(v))
        fs.delete(new org.apache.hadoop.fs.Path(root, leaf), true)
      }
    }
    touched.map(String.valueOf)
  }

  /** Merge-on-read compaction: fold the accumulated delta log back into
    * the base table and truncate the log — [[readView]] IS the compaction
    * plan, materialized. Run it when the log outgrows its read
    * amortization; between compactions, writers stay O(delta) and readers
    * pay the one reconcile join. The materialize-before-truncate swap is
    * the same localCheckpoint pattern as the streaming sink (a cluster
    * deployment hardens it into a versioned-directory flip). */
  def compact(store: graft.collab.TableStore, baseTable: String,
      deltaTable: String, key: String, payload: String): Unit = {
    val base = store.scan(baseTable).select(col(key), col(payload))
    val delta = store.scan(deltaTable)
    // a streaming-MOR log carries persisted __batch stamps — honor them;
    // an unstamped delta is a single batch
    val view =
      if (delta.columns.contains("__batch")) readViewLog(base, delta, key, payload)
      else readView(base, Seq(delta), key, payload)
    val folded = view
      .select(col(key), col(payload))
      .localCheckpoint(true)
    store.truncate(baseTable)
    store.append(baseTable, folded)
    store.truncate(deltaTable)
  }

  private def changesetOf(docs: DataFrame): (DataFrame, DataFrame) = {
    val snapshot = docs.filter(pmod(col("doc_id"), lit(10)) =!= 9)
      .select(col("doc_id"), col("text"))
    val changes = docs.filter(pmod(col("doc_id"), lit(10)) === 9)
      .select(
        when(pmod(col("doc_id"), lit(30)) === 9, col("doc_id") - 1)
          .when(pmod(col("doc_id"), lit(30)) === 19, col("doc_id") - 2)
          .otherwise(col("doc_id")).as("doc_id"),
        when(pmod(col("doc_id"), lit(30)) === 9, "delete")
          .when(pmod(col("doc_id"), lit(30)) === 19, "update")
          .otherwise("insert").as("op"),
        concat(lit("rev2 "), col("text")).as("text"))
    (snapshot, changes)
  }

  /** Harness query: deterministic changeset over the documents snapshot.
    * Rows with doc_id % 10 == 9 form the changeset (the rest is the
    * snapshot); their disposition cycles by doc_id % 30: 9 → delete the
    * neighbor doc_id-1, 19 → rewrite the neighbor doc_id-2's text, 29 →
    * insert themselves as new. Everything is integer arithmetic, so the
    * DuckDB oracle restates it verbatim. */
  def documentsUpsert(s: SparkSession, dir: String): DataFrame = {
    val (snapshot, changes) = changesetOf(Tables.documents(s, dir))
    merge(snapshot, changes, "doc_id", "text")
      .select(col("doc_id"), col("status"),
        length(col("text")).as("n_chars_new"))
      .orderBy(col("doc_id"))
  }

  /** Harness query: the SAME changeset applied merge-on-read — base and
    * delta are materialized through the ParquetTableStore (base parquet
    * untouched by the change, delta appended as its own table, the
    * Hudi/Iceberg MOR layout in miniature), then [[readView]] reconciles
    * at scan time. Oracle = q_upsert's SQL verbatim: the two variants must
    * be indistinguishable to a reader. The store is written once per
    * (application, sf dir) by [[graft.State.built]] — the returned view
    * reads it lazily, so it lives with the application — and a fresh
    * store instance reads it back through its schema sidecars. */
  def documentsUpsertMor(s: SparkSession, dir: String): DataFrame = {
    val root = graft.State.built(s, "mor_store", dir) { root =>
      val (snapshot, changes) = changesetOf(Tables.documents(s, dir))
      val store = new graft.collab.ParquetTableStore(s, root)
      store.create("base", snapshot.schema)
      store.append("base", snapshot)
      store.create("delta", changes.schema)
      store.append("delta", changes)
    }
    val store = new graft.collab.ParquetTableStore(s, root)
    readView(store.scan("base"), Seq(store.scan("delta")), "doc_id", "text")
      .select(col("doc_id"), col("status"),
        length(col("text")).as("n_chars_new"))
      .orderBy(col("doc_id"))
  }

  /** Harness query: TIME TRAVEL — a second delta wave (every
    * doc_id % 10 == 8 row deleted) lands in the log AFTER the standard
    * changeset, and the read reconstructs the state AS OF batch 0. Oracle
    * = q_upsert's SQL verbatim: the later batch must be invisible to the
    * as-of reader, byte-for-byte. If the as-of cut ever leaked batch 1,
    * the %10==8 docs would vanish and the hash would catch it. */
  def documentsUpsertAsOf(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val (snapshot, changes) = changesetOf(docs)
    val laterWave = docs.filter(pmod(col("doc_id"), lit(10)) === 8)
      .select(col("doc_id"), lit("delete").as("op"),
        lit(null).cast("string").as("text"))
    readViewAsOf(snapshot, Seq(changes, laterWave), "doc_id", "text",
        asOfBatch = 0)
      .select(col("doc_id"), col("status"),
        length(col("text")).as("n_chars_new"))
      .orderBy(col("doc_id"))
  }
}
