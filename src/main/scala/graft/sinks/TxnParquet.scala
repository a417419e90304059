package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Idempotent batch-append parquet sink: plain parquet plus a tiny
  * commit log, readable by any engine, safe to append to from retried
  * jobs.
  *
  * Layout under `dir`:
  * {{{
  *   batch=<id>/part-*.parquet    -- data batch ([[append]], [[appendWithStats]])
  *   deletes=<id>/part-*.parquet  -- delete batch: key rows ([[appendDeletes]])
  *   merge=<id>/part-*.parquet    -- upsert batch: data AND tombstone ([[merge]])
  *   _commits/<id>                -- empty marker, created AFTER the data
  * }}}
  *
  * Commit protocol — one body, `commit`, behind every batch kind; the
  * kinds share one id space:
  *  - a committed id is skipped outright, so any number of retries of
  *    the same (id, data) leaves exactly one copy;
  *  - an uncommitted id (first attempt, or a crash that tore the write
  *    before its marker landed) first removes a torn `<k>=<id>` of
  *    every OTHER kind, then OVERWRITES `<kind>=<id>`, then creates
  *    the marker. A committed id's kind is read from its directory
  *    name, so the removal is what keeps the kind unambiguous (a torn
  *    `deletes=<id>` left next to a committed `batch=<id>` would turn
  *    the data into a tombstone). Tables where an id still has more
  *    than one kind directory resolve by precedence
  *    deletes > merge > batch;
  *  - readers see committed ids only: a torn write without its marker
  *    is invisible, never half-read.
  *
  * The write: every batch directory and every compaction generation is
  * written by [[LeanParquetWriter]], which leaves the files
  * `df.write.mode("overwrite").parquet(...)` leaves (`part-*` files
  * through the session's commit protocol, `_SUCCESS`, one file even for
  * an empty result) but ships the session's Hadoop configuration to the
  * executors once, as a broadcast, instead of inside every write task.
  * A task carries only the few keys its write adds to that copy. Its
  * per-task row counts tell [[appendStream]] whether a micro-batch's
  * output was empty without running the plan a second time.
  *
  * Resolution: plain [[read]] is the RAW view (data and merge rows,
  * tombstones unapplied). [[readWithDeletes]] hides every key-matching
  * row committed BEFORE a delete or merge batch (a later re-append of
  * the key is visible again); [[compactWithDeletes]] applies the
  * tombstones physically.
  *
  * This is deliberately the minimal transactional contract a 100 TB
  * append-only corpus needs (exactly-once per retried batch, atomic
  * visibility) without a table-format dependency: the marker directory
  * is O(batches) empty files, the data path is untouched parquet, and
  * readers make one listing each of `_commits` and `dir` before
  * planning the scan.
  * Additive column evolution is supported (`read(mergeSchema = true)`;
  * `compact` always merges, so a compaction bakes the union schema
  * into one generation). What it does NOT give — concurrent writers to
  * the SAME batch id, column removal/retype (migrate those through a
  * compaction rewrite) — is documented out of scope.
  */
object TxnParquet {

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def marker(dir: String, batchId: Long) =
    new Path(s"$dir/_commits/$batchId")

  /** Batch kinds, highest resolution precedence first. */
  private val Kinds = Seq("deletes", "merge", "batch")

  private val KindDir = """(deletes|merge|batch)=(\d+)""".r

  /** The commit protocol (see the object doc). `beforeMarker` runs
    * after the data landed and before the marker, so the marker's
    * atomicity covers whatever it writes. With `keepEmpty = false` an
    * output of zero rows is removed again and gets no marker.
    * `ifCommitted` runs instead of the write when the id is already
    * committed. Returns true when this call committed, false when the
    * id was already committed or the empty output was dropped. */
  private def commit(df: DataFrame, dir: String, batchId: Long, kind: String,
                     keepEmpty: Boolean = true,
                     beforeMarker: org.apache.hadoop.fs.FileSystem => Unit = _ => (),
                     ifCommitted: DataFrame => Unit = _ => ()
                    ): Boolean = {
    val f = fs(df.sparkSession, dir)
    if (f.exists(marker(dir, batchId))) { ifCommitted(df); false }
    else {
      // delete on a missing path is a no-op returning false: no exists
      // probe, and no listing of `dir` on the write path
      Kinds.filterNot(_ == kind)
        .foreach(k => f.delete(new Path(s"$dir/$k=$batchId"), true))
      val out = new Path(s"$dir/$kind=$batchId")
      if (LeanParquetWriter.write(df, out.toString) == 0 && !keepEmpty) {
        f.delete(out, true)
        false
      } else {
        beforeMarker(f)
        f.create(marker(dir, batchId), true).close()
        true
      }
    }
  }

  /** Each batch id's kind from ONE listing of `dir`, by precedence when
    * an id has several kind directories. An id with none reads as
    * `batch` (its scan then fails loudly on the missing path, as a
    * vacuumed snapshot must). */
  private def batchKinds(spark: SparkSession, dir: String): Map[Long, String] =
    fs(spark, dir).listStatus(new Path(dir)).toSeq
      .map(_.getPath.getName)
      .collect { case KindDir(k, id) => (id.toLong, k) }
      .groupMap(_._1)(_._2)
      .map { case (id, ks) => id -> Kinds.find(ks.contains).get }
      .withDefaultValue("batch")

  /** Append `df` as data batch `batchId`; returns true when this call
    * wrote (false = the id was already committed and the call was a
    * no-op). */
  def append(df: DataFrame, dir: String, batchId: Long): Boolean =
    commit(df, dir, batchId, "batch")

  /** Append a DELETE batch: `keys` rows (the delete's key columns).
    * Merge-on-read semantics: a delete hides every key-matching row
    * committed BEFORE it; a later re-append of the key is visible
    * again. Plain [[read]] ignores delete batches (raw union);
    * [[readWithDeletes]] resolves them; [[compactWithDeletes]] applies
    * them physically. */
  def appendDeletes(keys: DataFrame, dir: String, batchId: Long): Boolean =
    commit(keys, dir, batchId, "deletes")

  /** MERGE (upsert) a batch: rows land like an append, AND any earlier
    * row sharing a merge row's key is superseded — last-writer-wins by
    * batch id, the lakehouse MERGE INTO. One atomic batch kind instead
    * of a delete-batch + data-batch pair, so a crash can never leave
    * the delete applied without its replacement rows.
    *
    * Resolution happens in [[readWithDeletes]] (which despite the name
    * resolves ALL tombstone-carrying kinds): a merge batch is data AND
    * tombstone — its key set hides older rows, its own rows are hidden
    * only by LATER deletes/merges. Plain [[read]] stays the raw view
    * (merge rows included, supersede unapplied — same posture as
    * unresolved deletes). Raw compaction fails fast on live merge
    * batches exactly as on live deletes. */
  def merge(rows: DataFrame, dir: String, batchId: Long): Boolean =
    commit(rows, dir, batchId, "merge")

  /** Attach a streaming frame: each micro-batch `b` lands as
    * `append(toBatch(b), dir, base + batchId)`, so a restart that
    * replays an epoch is a committed no-op and a torn epoch is
    * overwritten by its replay. `base` is [[idBase]]: 0 for a fresh
    * output, and one past the last committed id when a fresh checkpoint
    * attaches to an existing output (a lost checkpoint restarts
    * micro-batch ids at 0, and reusing a committed id would skip that
    * batch's rows).
    * The micro-batch plan runs once: a `toBatch(b)` of zero rows (an
    * empty micro-batch, or one `toBatch` filters out) is removed after
    * the write and its id stays uncommitted. A replayed epoch whose id
    * is committed still runs its plan, into Spark's `noop` sink: its
    * stateful operators must commit their state version again, and
    * Spark fails the trigger when one does not
    * (`STATE_STORE_COMMIT_VALIDATION_FAILED`).
    * The checkpoint defaults to `dir/_checkpoint`. */
  def appendStream(df: DataFrame, dir: String,
                   checkpointDir: Option[String] = None)
                  (toBatch: DataFrame => DataFrame): StreamingQuery = {
    val checkpoint = checkpointDir.getOrElse(s"$dir/_checkpoint")
    val base = idBase(df.sparkSession, checkpoint)(
      committedBatches(df.sparkSession, dir).lastOption.fold(0L)(_ + 1))
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commit(toBatch(batch), dir, base + batchId, "batch", keepEmpty = false,
          ifCommitted = _.write.format("noop").mode("overwrite").save())
        ()
      }
      .start()
  }

  /** The output id of `checkpoint`'s micro-batch 0, for a stream that
    * keys its writes by micro-batch id. While the checkpoint is fresh
    * (no offsets logged), that is `next`, the first id the output has
    * not used, recorded in the checkpoint before the query starts;
    * later starts read the record back. A checkpoint with offsets but
    * no record reads 0, which keeps the ids of checkpoints written
    * before the record existed. */
  private[graft] def idBase(spark: SparkSession, checkpoint: String)(next: => Long): Long = {
    val f = fs(spark, checkpoint)
    val record = new Path(s"$checkpoint/txnparquet_id_base")
    val offsets = new Path(s"$checkpoint/offsets")
    val fresh = !f.exists(offsets) ||
      !f.listStatus(offsets).exists(_.getPath.getName.forall(_.isDigit))
    if (fresh) {
      val base = next
      val out = f.create(record, true)
      try out.write(base.toString.getBytes("UTF-8")) finally out.close()
      base
    } else if (f.exists(record)) {
      val in = f.open(record)
      try new String(in.readAllBytes(), "UTF-8").toLong finally in.close()
    } else 0L
  }

  /** The committed view over `ids`, with the generation `prior` (if
    * any) standing in for the ids it covers. With no key columns, or
    * no live delete/merge batch, it is ONE scan over the explicit data
    * paths (delete batches are not data; a torn directory costs
    * nothing even at plan time). Otherwise each data path is scanned
    * tagged with its batch id (a generation's rows carry its max
    * covered id, so tombstones it already applied never re-apply), and
    * rows whose key appears in a LATER delete or merge batch are
    * dropped by a broadcast anti-join against the O(tombstoned keys)
    * side. Key columns must be non-null (null keys never match). */
  private def committedView(spark: SparkSession, dir: String,
                            ids: Seq[Long], prior: Option[(Long, Set[Long])],
                            keyCols: Seq[String],
                            mergeSchema: Boolean): DataFrame = {
    import org.apache.spark.sql.functions._
    lazy val kind = batchKinds(spark, dir)
    def path(id: Long) = s"$dir/${kind(id)}=$id"
    val live = ids.filterNot(prior.map(_._2).getOrElse(Set.empty[Long]))
    val data =
      prior.map { case (gen, cov) => (s"$dir/compact=$gen", cov.max) }.toSeq ++
        live.filter(kind(_) != "deletes").map(id => (path(id), id))
    require(data.nonEmpty, s"no committed data batches under $dir")
    val tombstones =
      if (keyCols.isEmpty) Nil else live.filter(kind(_) != "batch")
    def rd(paths: String*) =
      spark.read.option("mergeSchema", mergeSchema.toString).parquet(paths: _*)
    if (tombstones.isEmpty) rd(data.map(_._1): _*)
    else {
      val rows = data
        .map { case (p, bid) => rd(p).withColumn("__bid", lit(bid)) }
        .reduce((a, b) => a.unionByName(b, allowMissingColumns = mergeSchema))
      val dels = tombstones
        .map(id => rd(path(id)).select(keyCols.map(col): _*)
          .withColumn("__did", lit(id)))
        .reduce(_ unionByName _)
      val cond = keyCols.map(k => rows(k) === dels(k)).reduce(_ && _) &&
        dels("__did") > rows("__bid")
      rows.join(broadcast(dels), cond, "left_anti").drop("__bid")
    }
  }

  /** The tombstone-resolved committed view: rows from data batches,
    * MERGE batches and the latest generation, minus rows whose key
    * appears in a LATER delete or merge batch (last-writer-wins
    * upsert for merges). Key columns must be non-null (null keys never
    * match — use a sentinel). */
  def readWithDeletes(spark: SparkSession, dir: String,
                      keyCols: Seq[String],
                      mergeSchema: Boolean = false): DataFrame =
    committedView(spark, dir, committedBatches(spark, dir),
      latestCompaction(spark, dir), keyCols, mergeSchema)

  /** Compact with deletes APPLIED PHYSICALLY: the generation is the
    * delete-resolved view, its manifest covers data AND delete batches
    * (so applied tombstones never re-apply, and `vacuum` reclaims
    * their directories). Same lease/staging/fencing as [[compact]]. */
  def compactWithDeletes(spark: SparkSession, dir: String,
                         keyCols: Seq[String], numFiles: Int = 1,
                         leaseTtlMs: Long = 15 * 60 * 1000L): Long =
    compactCore(spark, dir, leaseTtlMs) { (ids, prior) =>
      committedView(spark, dir, ids, prior, keyCols, mergeSchema = true)
        .coalesce(numFiles)
    }

  /** Batch ids with a commit marker, ascending. */
  def committedBatches(spark: SparkSession, dir: String): Seq[Long] = {
    val f = fs(spark, dir)
    val commits = new Path(s"$dir/_commits")
    if (!f.exists(commits)) Seq.empty
    else f.listStatus(commits).map(_.getPath.getName.toLong).sorted.toSeq
  }

  /** All committed rows (torn, uncommitted batch directories are never
    * read). One scan over the explicit committed paths: the latest
    * committed compaction (if any) stands in for the batches it covers,
    * plus every committed batch appended since — so a torn directory
    * (batch or compaction) costs nothing even at plan time.
    *
    * `mergeSchema = true` opts into ADDITIVE schema evolution: a long-
    * lived append log accrues new columns over the years, and with the
    * flag set the scan unions footers across batches, reading a column
    * missing from older batches as null. Off by default because the
    * footer merge costs one extra metadata pass per file — a compacted
    * table (one generation + recent batches) pays almost nothing, which
    * is the recommended posture: evolve additively, compact, read
    * merged. Column REMOVAL or type change stays out of scope: migrate
    * those through a compaction generation (rewrite with the target
    * schema, then vacuum). */
  def read(spark: SparkSession, dir: String,
           mergeSchema: Boolean = false): DataFrame =
    committedView(spark, dir, committedBatches(spark, dir),
      latestCompaction(spark, dir), Nil, mergeSchema)

  /** Time travel: the committed view AS OF batch id `asOf` — exactly
    * the rows a reader saw when `asOf` was the newest committed batch.
    * The snapshot handle a training run records for reproducibility:
    * re-reading with the same id returns the same rows however many
    * batches landed since. A compaction generation stands in for its
    * covered batches ONLY if it covers no batch newer than `asOf`
    * (otherwise it would leak future rows); else the original batch
    * directories are read — which `vacuum` may have reclaimed, so
    * snapshot ids older than the last vacuumed compaction are out of
    * retention and the read fails loudly on the missing path.
    * `mergeSchema` composes as in [[read]].
    *
    * NOTE: like plain [[read]], this is the RAW (tombstone-unresolved)
    * view — delete batches committed at or before `asOf` are NOT
    * applied. For the delete-resolved snapshot a reader of
    * [[readWithDeletes]] would have seen at `asOf`, use
    * [[readAsOfWithDeletes]]. */
  def readAsOf(spark: SparkSession, dir: String, asOf: Long,
               mergeSchema: Boolean = false): DataFrame =
    readAsOfWithDeletes(spark, dir, asOf, keyCols = Nil, mergeSchema)

  /** Delete-resolved time travel: exactly the rows [[readWithDeletes]]
    * returned when `asOf` was the newest committed batch — data batches
    * `<= asOf` minus keys tombstoned by a delete batch `<= asOf` that is
    * NEWER than the row's batch. The reproducibility handle for a
    * MUTABLE table (a raw [[readAsOf]] of a CDC-fed corpus replays
    * rows that were already deleted at snapshot time). Same retention
    * caveat as [[readAsOf]]: vacuumed batch directories fail loudly.
    * Empty `keyCols` gives the raw snapshot, [[readAsOf]]. */
  def readAsOfWithDeletes(spark: SparkSession, dir: String, asOf: Long,
                          keyCols: Seq[String],
                          mergeSchema: Boolean = false): DataFrame = {
    val ids = committedBatches(spark, dir).filter(_ <= asOf)
    require(ids.nonEmpty, s"no batches committed at or before $asOf under $dir")
    // newest generation that leaks no post-asOf rows; older generations
    // remain usable until vacuum reclaims them
    val usable = compactions(spark, dir)
      .find { case (_, covered) => covered.forall(_ <= asOf) }
    committedView(spark, dir, ids, usable, keyCols, mergeSchema)
  }

  // ---- compaction -------------------------------------------------------
  // A long-lived append stream leaves one small parquet directory per
  // micro-batch — the classic small-file problem (a 100 TB table fed by
  // minutely batches is a million directories and a planner stall).
  // `compact` rewrites everything `read` currently sees into ONE
  // consolidated directory under the same marker protocol:
  //
  //   compact=<gen>/part-*.parquet    -- consolidated data
  //   _compactions/<gen>              -- marker, written AFTER the data;
  //                                      its CONTENT lists the covered
  //                                      batch ids (the manifest)
  //
  // Readers take the LATEST committed generation plus batches appended
  // after it; a torn compaction (data without marker) is invisible
  // exactly like a torn batch. Covered batch MARKERS are never deleted —
  // they are what keeps late retries of an already-compacted append
  // idempotent — but covered DATA directories become dead weight and
  // `vacuum` reclaims them. One compactor at a time is ENFORCED by a
  // lease marker (see `compact`); single-writer-per-batch-id remains a
  // convention.

  private def compactionsDir(dir: String) = new Path(s"$dir/_compactions")

  private def leasePath(dir: String) = new Path(s"$dir/_compactions/_lease")

  /** Acquire the single-compactor lease; returns the holder's UNIQUE
    * token (content of the marker — what [[holdsLease]] checks and
    * [[releaseLease]] matches), or throws. Atomic-create of the marker
    * file (`create(overwrite = false)` is the one conditional primitive
    * every HDFS-compatible store offers). A lease whose mtime is older
    * than `ttlMs` is presumed crashed and STOLEN ATOMICALLY: the
    * stealer RENAMES the observed-stale marker to a per-stealer name —
    * rename picks exactly one winner (the loser's source is gone), so
    * two concurrent stealers can never both proceed the way the old
    * delete-then-create race allowed (B deletes + recreates, then A's
    * blind delete removes B's fresh lease). The winner then contends
    * through the normal conditional create (a brand-new acquirer may
    * still beat it — either way at most one holder exists). */
  private[graft] def acquireLease(f: org.apache.hadoop.fs.FileSystem,
                                  dir: String, holder: String,
                                  ttlMs: Long): String = {
    val lp = leasePath(dir)
    val token = s"$holder#${java.util.UUID.randomUUID()}"
    def tryAcquire(): Boolean =
      try {
        val out = f.create(lp, false)
        try out.write(token.getBytes("UTF-8")) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    def fail(): Nothing = throw new IllegalStateException(
      s"another compactor holds the lease under $dir (marker " +
        s"$lp, ttl ${ttlMs}ms); concurrent compactions would race " +
        "generation ids — wait for it, or delete the marker if its " +
        "holder is known dead")
    if (!tryAcquire()) {
      val stale =
        try Some(System.currentTimeMillis() -
          f.getFileStatus(lp).getModificationTime > ttlMs)
        catch { case _: java.io.FileNotFoundException => None }
      stale match {
        case None => // holder released between create and stat: contend again
          if (!tryAcquire()) fail()
        case Some(false) => fail()
        case Some(true) =>
          val claim = new Path(
            s"$dir/_compactions/.lease-steal-${java.util.UUID.randomUUID()}")
          val won =
            try f.rename(lp, claim) catch { case _: java.io.IOException => false }
          if (won) f.delete(claim, false) // the stale marker, now fenced off
          if (!won || !tryAcquire()) fail()
      }
    }
    token
  }

  /** True iff the lease marker exists and carries `token` — the fencing
    * check a long-running compaction makes before committing. */
  private[graft] def holdsLease(f: org.apache.hadoop.fs.FileSystem,
                                dir: String, token: String): Boolean =
    try {
      val in = f.open(leasePath(dir))
      val content =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      content == token
    } catch { case _: Exception => false }

  /** Release only OUR lease: a marker re-issued to a stealer after our
    * TTL expired must not be deleted out from under its new holder. */
  private[graft] def releaseLease(f: org.apache.hadoop.fs.FileSystem,
                                  dir: String, token: String): Unit =
    if (holdsLease(f, dir, token)) f.delete(leasePath(dir), false)

  /** Daemon renewal thread: bumps the lease mtime every ttl/3 while the
    * rewrite runs, so a legitimate compaction SLOWER than the TTL keeps
    * its lease instead of being presumed crashed and stolen mid-write.
    * Stops renewing the moment the token no longer matches (stolen). */
  private def startRenewer(f: org.apache.hadoop.fs.FileSystem, dir: String,
                           token: String, ttlMs: Long): Thread = {
    val t = new Thread(() => {
      try {
        while (!Thread.interrupted()) {
          Thread.sleep(math.max(ttlMs / 3, 200L))
          try {
            if (holdsLease(f, dir, token))
              f.setTimes(leasePath(dir), System.currentTimeMillis(), -1)
          } catch { case _: Exception => () }
        }
      } catch { case _: InterruptedException => () }
    }, s"txnparquet-lease-renewer-$dir")
    t.setDaemon(true)
    t.start()
    t
  }

  /** All committed (generation, covered batch-id set), newest first. */
  def compactions(spark: SparkSession,
                  dir: String): Seq[(Long, Set[Long])] = {
    val f = fs(spark, dir)
    val cd = compactionsDir(dir)
    if (!f.exists(cd)) Seq.empty
    else f.listStatus(cd).map(_.getPath)
      .filter(_.getName.forall(_.isDigit)) // in-flight .tmp markers are invisible
      .sortBy(-_.getName.toLong)
      .map { p =>
        val in = f.open(p)
        val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
        val covered = content.split(",").filter(_.nonEmpty).map(_.toLong).toSet
        (p.getName.toLong, covered)
      }.toSeq
  }

  /** Latest committed (generation, covered batch-id set), if any. */
  def latestCompaction(spark: SparkSession,
                      dir: String): Option[(Long, Set[Long])] =
    compactions(spark, dir).headOption

  /** Rewrite the current committed view into one consolidated
    * generation; returns the new generation id. The data lands first,
    * the manifest marker second — a crash in between leaves the old
    * view fully readable. `numFiles` bounds the rewrite's output files
    * (a coalesce, not a shuffle).
    *
    * ONE compactor at a time, ENFORCED in depth: (1) a lease marker
    * under `_compactions/` is taken by conditional create before any
    * work, RENEWED every ttl/3 during the rewrite (a slow rewrite keeps
    * its lease), stolen only by atomic rename after `leaseTtlMs`
    * without renewal, and released-if-still-held afterwards; (2) the
    * data lands in a per-attempt staging directory and is INSTALLED by
    * renaming it to `compact=<gen>` — if a stolen-lease race ever does
    * produce two compactors on the same generation, exactly one rename
    * installs and the loser aborts before touching the manifest, so a
    * loser's data can never land under a winner's committed manifest;
    * (3) the manifest commit re-checks lease ownership (fencing) and
    * itself lands by rename, which fails on an existing target. */
  def compact(spark: SparkSession, dir: String, numFiles: Int = 1,
              leaseTtlMs: Long = 15 * 60 * 1000L): Long =
    compactRewritten(spark, dir, leaseTtlMs)(_.coalesce(numFiles))

  /** Z-ORDERED compaction: the consolidated generation is written
    * clustered on two numeric dimensions (Morton-interleaved equi-width
    * buckets over the view's own min/max domain, `numFiles` contiguous
    * z-ranges via ONE range exchange, rows z-sorted within each file) —
    * so the generation's parquet footers carry tight 2-D min/max
    * envelopes and any reader's pushed predicate on either dimension
    * skips most of the table. This closes the ingest story: streaming
    * appends land in arrival order (cheap), and the periodic compaction
    * pays exactly one range exchange to make the accumulated data
    * prunable — the same rewrite cost the Layout planner budgets.
    * Same lease + staging + fencing protocol as [[compact]]. */
  def compactZOrdered(spark: SparkSession, dir: String,
                      dim1: String, dim2: String, numFiles: Int = 16,
                      leaseTtlMs: Long = 15 * 60 * 1000L): Long =
    compactRewritten(spark, dir, leaseTtlMs)(
      zorderRewrite(dim1, dim2, numFiles))

  /** Composition capstone: tombstones applied physically AND the
    * surviving rows written z-ordered — the periodic maintenance pass
    * of a MUTABLE clustered table (CDC appends in arrival order →
    * one compaction pays one range exchange and yields a
    * delete-resolved, footer-prunable generation). */
  def compactZOrderedWithDeletes(spark: SparkSession, dir: String,
                                 keyCols: Seq[String],
                                 dim1: String, dim2: String,
                                 numFiles: Int = 16,
                                 leaseTtlMs: Long = 15 * 60 * 1000L): Long =
    compactCore(spark, dir, leaseTtlMs) { (ids, prior) =>
      zorderRewrite(dim1, dim2, numFiles)(
        committedView(spark, dir, ids, prior, keyCols, mergeSchema = true))
    }

  /** The z-order rewrite applied by both clustered compactions: bucket
    * both dimensions over the view's own min/max domain, ONE range
    * exchange into `numFiles` contiguous z-ranges, z-sorted in-file. */
  private def zorderRewrite(dim1: String, dim2: String, numFiles: Int)
                           (df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val dom = df.agg(
      min(dim1).as("__lo1"), max(dim1).as("__hi1"),
      min(dim2).as("__lo2"), max(dim2).as("__hi2"))
    df.crossJoin(broadcast(dom))
      .withColumn("__z", graft.operators.Layout.zValue(
        col(dim1), col("__lo1"), col("__hi1"),
        col(dim2), col("__lo2"), col("__hi2")))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__lo1", "__hi1", "__lo2", "__hi2", "__z")
  }

  private def compactRewritten(spark: SparkSession, dir: String,
                               leaseTtlMs: Long)
                              (rewrite: DataFrame => DataFrame): Long =
    compactCore(spark, dir, leaseTtlMs) { (ids, prior) =>
      // FAIL FAST on unapplied tombstones: the raw rewrite has no key
      // columns, so it cannot apply them — but the manifest would mark
      // them covered, after which readWithDeletes stops applying them
      // (deleted rows RESURRECT in the new generation) and vacuum
      // permanently reclaims the delete directories. Excluding them
      // from the manifest wouldn't help either: generation rows carry
      // the manifest's max id, so a pre-existing tombstone (__did <
      // generation __bid) would never match the rewritten rows it must
      // hide. The only safe raw compaction is one with no live deletes.
      val kind = batchKinds(spark, dir)
      val covered = prior.map(_._2).getOrElse(Set.empty[Long])
      val liveDeletes = ids.filterNot(covered).filter(kind(_) != "batch")
      if (liveDeletes.nonEmpty) throw new IllegalStateException(
        s"raw compaction would drop ${liveDeletes.size} unapplied delete/" +
          s"merge batch(es) ${liveDeletes.mkString("[", ",", "]")} under $dir " +
          "— a merge's superseded rows would resurrect in the generation; " +
          "use compactWithDeletes/compactZOrderedWithDeletes (they apply " +
          "tombstones physically) or vacuum after a WithDeletes pass")
      rewrite(committedView(spark, dir, ids, prior, Nil, mergeSchema = true))
    }

  private def compactCore(spark: SparkSession, dir: String,
                          leaseTtlMs: Long)
                         (view: (Seq[Long], Option[(Long, Set[Long])]) => DataFrame): Long = {
    val f = fs(spark, dir)
    val token = acquireLease(f, dir, spark.sparkContext.applicationId, leaseTtlMs)
    val renewer = startRenewer(f, dir, token, leaseTtlMs)
    try compactHoldingLease(spark, f, dir, view, token)
    finally {
      renewer.interrupt()
      renewer.join(2000L)
      releaseLease(f, dir, token)
    }
  }

  private def compactHoldingLease(spark: SparkSession,
                                  f: org.apache.hadoop.fs.FileSystem,
                                  dir: String,
                                  view: (Seq[Long], Option[(Long, Set[Long])]) => DataFrame,
                                  token: String): Long = {
    val prior = latestCompaction(spark, dir)
    val gen = prior.map(_._1 + 1).getOrElse(0L)
    // ONE listing snapshots the view; both the rewrite input and the
    // manifest derive from it. A batch committed concurrently after this
    // point (e.g. a live streaming appender) is neither rewritten nor
    // covered — it simply remains an uncompacted batch the next read
    // unions in, exactly as if it had arrived after the compaction.
    val ids = committedBatches(spark, dir)
    val covered = ids.toSet ++ prior.map(_._2).getOrElse(Set.empty)
    // write to a per-attempt staging dir; installing it is one rename —
    // the generation fence (see `compact` doc, point 2)
    val staging = new Path(s"$dir/.compact-staging-${java.util.UUID.randomUUID()}")
    val target = new Path(s"$dir/compact=$gen")
    try {
      LeanParquetWriter.write(view(ids, prior), staging.toString)
      val installed = !f.exists(target) &&
        (try f.rename(staging, target)
         catch { case _: java.io.IOException => false })
      // local/posix-style rename moves INTO an existing target dir: a
      // racer creating the target between the exists check and our
      // rename would nest the staging dir — detect and abort
      val nested = new Path(target, staging.getName)
      if (installed && f.exists(nested)) {
        // the target we renamed into was created by a racer between our
        // exists check and the rename: the target is THEIRS — remove
        // only our nested staging data and abort
        f.delete(nested, true)
        throw new IllegalStateException(
          s"concurrent compactor installed compact=$gen first under $dir")
      }
      if (!installed) throw new IllegalStateException(
        s"could not install compact=$gen under $dir (a concurrent " +
          "compactor won the generation)")
      // FENCE: if our lease was stolen mid-rewrite (TTL expiry under a
      // stalled renewer), do not commit — the stealer owns the table
      // now. Remove OUR installed-but-uncommitted target (invisible to
      // readers, but it would block the new holder's install rename).
      if (!holdsLease(f, dir, token)) {
        f.delete(target, true)
        throw new IllegalStateException(
          s"lease for $dir was stolen during the rewrite; aborting before " +
            "the manifest commit (the new holder owns generation ids now)")
      }
      // manifest lands by atomic RENAME: a crash mid-write leaves only an
      // invisible .tmp (a torn manifest read as committed would make
      // `read` plan compact=gen AND some covered batches — double rows)
      val tmp = new Path(s"$dir/_compactions/.$gen.tmp")
      val out = f.create(tmp, true)
      try out.write(covered.toSeq.sorted.mkString(",").getBytes("UTF-8"))
      finally out.close()
      // HDFS signals a failed rename by returning false, not throwing — a
      // swallowed false would report gen as committed with no manifest
      require(f.rename(tmp, new Path(s"$dir/_compactions/$gen")),
        s"manifest rename failed for gen=$gen under $dir")
      gen
    } finally {
      if (f.exists(staging)) f.delete(staging, true)
    }
  }

  /** Delete data made dead by the latest committed compaction: covered
    * batch DIRECTORIES (their markers stay — idempotence outlives the
    * data) and superseded compact generations. Safe any time after the
    * compaction committed; `read` never plans those paths again. */
  def vacuum(spark: SparkSession, dir: String): Unit =
    latestCompaction(spark, dir).foreach { case (gen, covered) =>
      val f = fs(spark, dir)
      covered.foreach(id =>
        Kinds.foreach(k => f.delete(new Path(s"$dir/$k=$id"), true)))
      (0L until gen).foreach { g =>
        val p = new Path(s"$dir/compact=$g")
        if (f.exists(p)) f.delete(p, true)
        val m = new Path(s"$dir/_compactions/$g")
        if (f.exists(m)) f.delete(m, false)
      }
    }

  // ---- data skipping ----------------------------------------------------
  // Parquet footers already carry per-FILE min/max; a 100 TB table fed
  // by minutely batches needs the same idea one level up, so a range
  // read can drop whole BATCH DIRECTORIES at planning time — before any
  // file listing, footer fetch or task launch. `appendWithStats`
  // records the batch's key range in a tiny `_stats/<id>` sidecar
  // (written before the commit marker, so the marker's atomicity covers
  // it); `readPruned` plans the scan over only the batches whose range
  // intersects the query's. Stats are advisory: a batch without a
  // sidecar (plain `append`, a merge batch, a compaction generation) is
  // never pruned — correctness comes from the residual filter, the
  // sidecars only save I/O.

  private def statsPath(dir: String, batchId: Long) =
    new Path(s"$dir/_stats/$batchId")

  /** [[append]] plus a key-range stats sidecar for [[readPruned]]'s
    * batch-level data skipping. The range is computed from the WRITTEN
    * batch directory (a footer-cheap min/max scan of one column), never
    * by re-evaluating the possibly expensive input plan. Integral key
    * columns only (ids, epoch times, z-addresses — the natural range-
    * partitioning keys); same idempotency contract as [[append]]. */
  def appendWithStats(df: DataFrame, dir: String, batchId: Long,
                      keyCol: String): Boolean = {
    require(df.schema(keyCol).dataType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => true
      case _ => false
    }, s"appendWithStats: $keyCol must be an integral column " +
      s"(got ${df.schema(keyCol).dataType.simpleString})")
    commit(df, dir, batchId, "batch", beforeMarker = { f =>
      import org.apache.spark.sql.functions.{max, min, col}
      val row = df.sparkSession.read.parquet(s"$dir/batch=$batchId")
        .agg(min(col(keyCol)).cast("long"), max(col(keyCol)).cast("long"))
        .head()
      val body =
        if (row.isNullAt(0)) s"$keyCol\nempty\n"
        else s"$keyCol\n${row.getLong(0)}\n${row.getLong(1)}\n"
      val out = f.create(statsPath(dir, batchId), true)
      out.write(body.getBytes("UTF-8"))
      out.close()
    })
  }

  /** Recorded key range of a committed batch: None = no usable sidecar
    * for `keyCol` (not prunable); Some(None) = recorded EMPTY batch
    * (prunable against any range); Some(Some((min, max))). */
  private def statsFor(f: org.apache.hadoop.fs.FileSystem, dir: String,
                       batchId: Long, keyCol: String): Option[Option[(Long, Long)]] = {
    val p = statsPath(dir, batchId)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      body.split("\n").toList match {
        case c :: "empty" :: _ if c == keyCol => Some(None)
        case c :: mn :: mx :: _ if c == keyCol =>
          try Some(Some((mn.toLong, mx.toLong)))
          catch { case _: NumberFormatException => None }
        case _ => None // different column, torn body: not prunable
      }
    }
  }

  /** The skip decision, exposed for observability: committed DATA batch
    * ids split into (kept, skipped) for a `keyCol ∈ [lo, hi]` read.
    * A batch is skipped only when a matching sidecar PROVES its range
    * cannot intersect; no sidecar, a different stats column or a torn
    * sidecar body all mean kept. */
  def pruneIds(spark: SparkSession, dir: String, keyCol: String,
               lo: Long, hi: Long): (Seq[Long], Seq[Long]) = {
    val f = fs(spark, dir)
    lazy val kind = batchKinds(spark, dir)
    val dataIds = committedBatches(spark, dir).filter(kind(_) != "deletes")
    dataIds.partition { id =>
      statsFor(f, dir, id, keyCol) match {
        case Some(Some((mn, mx))) => mx >= lo && mn <= hi
        case Some(None)           => false // recorded empty batch
        case None                 => true  // not prunable
      }
    }
  }

  /** Committed view restricted to `keyCol ∈ [lo, hi]`, planning the
    * scan over only the batches [[pruneIds]] keeps. The residual
    * filter always applies, so results equal
    * `read(...).filter(keyCol between lo and hi)` whether or not any
    * sidecar exists; a compaction generation (no sidecar) is read
    * whole and filtered — skipping resumes on the batches appended
    * after it. */
  def readPruned(spark: SparkSession, dir: String, keyCol: String,
                 lo: Long, hi: Long, mergeSchema: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    val (kept, _) = pruneIds(spark, dir, keyCol, lo, hi)
    val prior = latestCompaction(spark, dir)
    val base =
      if (kept.isEmpty && prior.isEmpty)
        read(spark, dir, mergeSchema) // schema-only: filter below is false
      else committedView(spark, dir, kept, prior, Nil, mergeSchema)
    base.filter(col(keyCol) >= lo && col(keyCol) <= hi)
  }
}
