package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-table persistence for the operators' reusable side artifacts
  * (dedup digest indexes, minhash band entries, embedding code tables).
  *
  * At 100 TB, bucketing is how a REPEATED join stops paying its shuffle:
  * writing both sides bucketed (and sorted) on the join key means every
  * subsequent join — tonight's delta against the corpus index, tomorrow's
  * too — reads pre-partitioned, pre-sorted buckets and zips them with NO
  * exchange on either side. One shuffle at write time amortizes over
  * every later ingest. PlanSpec gates the exchange-free join shape.
  *
  * The helpers are thin by design: bucketing lives in the table catalog
  * (`saveAsTable`), so the index builders stay pure DataFrames and any
  * operator output can be persisted this way.
  */
object Tables {

  /** Write `df` as a parquet table bucketed AND sorted by `key` —
    * `buckets` should match (or divide evenly into) the partition count
    * the consuming joins run with, and both join sides must use the same
    * bucket count for the exchange-free zip.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(buckets > 0, "buckets must be positive")
    df.write.mode(mode).format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(table)
  }

  /** Read a bucketed table back (symmetry helper — `spark.table` is all
    * it takes; bucketing metadata rides the catalog entry).
    */
  def readBucketed(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Write a frame as `nShards` size-balanced, internally-ordered parquet
    * files — the output-shaping step of a training-data run (downstream
    * loaders want even shards: one straggler file serializes the last
    * wave of every consumer). `repartitionByRange` SAMPLES the key
    * distribution to place boundaries, so shards stay balanced under
    * skewed keys where hash-modulo sharding would not;
    * `sortWithinPartitions` makes each shard internally ordered by the
    * key (resumable, mergeable reads). Pick a high-cardinality key (doc
    * id, pack id) — range sharding a low-cardinality key degenerates to
    * however many distinct values exist.
    */
  def writeSharded(df: DataFrame, path: String, keyCol: String, nShards: Int,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(nShards > 0, "nShards must be positive")
    df.repartitionByRange(nShards, org.apache.spark.sql.functions.col(keyCol))
      .sortWithinPartitions(keyCol)
      .write.mode(mode).parquet(path)
  }

  /** Result of [[compactDir]]: per-leaf-directory before/after file counts. */
  final case class CompactionStats(
      leavesCompacted: Int, filesBefore: Int, filesAfter: Int)

  /** Small-file compaction for a parquet directory tree — the maintenance
    * half of every long-running ingest: streaming micro-batches and
    * per-delta incremental dedup appends each write a few small files, and
    * after a month a 100 TB table is a million 10 MB files whose open/footer
    * overhead dominates scan time and whose count breaks FS listings.
    *
    * Walks the tree to its LEAF directories (so Hive-style partition
    * layouts — `__pdate=.../file.parquet` — compact partition-by-partition
    * and the partition columns, which live in directory names rather than
    * file contents, are untouched), and rewrites only leaves that need it:
    * at least `minFiles` files AND average file size under half
    * `targetBytes`. Everything else is left alone, so repeated runs are
    * cheap and idempotent — the second invocation finds nothing to do.
    * Each rewritten leaf gets `ceil(totalBytes / targetBytes)` output
    * files via `coalesce` (no shuffle: compaction moves bytes, it must not
    * redistribute them).
    *
    * The swap is a DIRECTORY rename pair through the Hadoop FS API —
    * `leaf → .leaf__compact_old`, `.leaf__compact_tmp → leaf`, drop old —
    * so no window loses or duplicates rows: a crash leaves either the
    * originals in place (tmp incomplete — safe to delete), the leaf
    * briefly absent with all data in the `__compact_old` dir (recovered
    * by renaming it back on the next run), or the swap complete with a
    * stale old dir (dropped on the next run). On HDFS/local-FS directory
    * renames are atomic; on object stores they are copies — run in a
    * maintenance window there, or use a transactional table format when
    * concurrent readers must never observe the swap (this operator is
    * the plain-parquet analog of those engines' OPTIMIZE/rewrite step).
    */
  def compactDir(spark: SparkSession, dir: String, targetBytes: Long,
      minFiles: Int = 2): CompactionStats = {
    require(targetBytes > 0, "targetBytes must be positive")
    require(minFiles >= 2, "minFiles must be >= 2 (compacting one file is a no-op)")
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return CompactionStats(0, 0, 0)

    def leaves(p: Path): Seq[Path] = {
      val entries = fs.listStatus(p).toSeq
      // "_" = metadata (_SUCCESS dirs); "." = this operator's own
      // tmp/old swap dirs — never data leaves
      val subdirs = entries.filter(_.isDirectory).map(_.getPath)
        .filterNot(d => d.getName.startsWith("_") || d.getName.startsWith("."))
      if (subdirs.isEmpty) Seq(p) else subdirs.flatMap(leaves)
    }

    def tmpOf(leaf: Path) = new Path(leaf.getParent, s".${leaf.getName}__compact_tmp")
    def oldOf(leaf: Path) = new Path(leaf.getParent, s".${leaf.getName}__compact_old")

    // crash recovery BEFORE planning: a dangling __compact_old means a
    // previous run died mid-swap — if the leaf is gone, the old dir IS the
    // data (rename it back); if the leaf exists, the swap completed and
    // the old copy is stale. A dangling tmp is always incomplete: the
    // originals were never touched before the swap, so drop it. Old dirs
    // can sit at any partition depth, so the scan is recursive.
    def swapLeftovers(p: Path): Seq[Path] = {
      val dirs = fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
      dirs.filter(_.getName.endsWith("__compact_old")) ++
        dirs.filterNot(_.getName.startsWith(".")).flatMap(swapLeftovers)
    }
    swapLeftovers(root).foreach { old =>
      val leaf = new Path(old.getParent,
        old.getName.stripPrefix(".").stripSuffix("__compact_old"))
      if (!fs.exists(leaf)) require(fs.rename(old, leaf),
        s"crash recovery failed: cannot restore $old to $leaf")
      else fs.delete(old, true)
    }

    var (nLeaves, before, after) = (0, 0, 0)
    leaves(root).foreach { leaf =>
      val files = fs.listStatus(leaf).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      val total = files.map(_.getLen).sum
      if (files.size >= minFiles && total / files.size < targetBytes / 2) {
        val nOut = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
        val (tmp, old) = (tmpOf(leaf), oldOf(leaf))
        fs.delete(tmp, true) // stale tmp = incomplete previous write
        spark.read.parquet(leaf.toString).coalesce(nOut)
          .write.parquet(tmp.toString)
        require(fs.rename(leaf, old), s"compaction swap failed renaming $leaf aside")
        require(fs.rename(tmp, leaf), s"compaction swap failed installing $tmp")
        fs.delete(old, true)
        val now = fs.listStatus(leaf)
          .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        nLeaves += 1; before += files.size; after += now
      }
    }
    CompactionStats(nLeaves, before, after)
  }

  /** Snapshot diff for dataset versioning: classify every id across two
    * corpus versions as added / removed / changed / unchanged by content
    * digest. Digests are projected BEFORE the join, so the exchange
    * carries (id, 32-byte digest) — never document text — and the join
    * key is the id, so two snapshots persisted with [[writeBucketed]] on
    * the id diff with zero exchanges. `unchanged` rows (the overwhelming
    * majority between adjacent 100 TB snapshots) are dropped unless
    * `includeUnchanged` — the output is the delta, sized like the change
    * set. md5 keeps the digest engine-portable (exactly replayable in
    * SQL). Precondition: `idCol` is unique within each snapshot (the
    * usual dedup'd-table invariant) — duplicate ids would fan out through
    * the join.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      contentCol: String, includeUnchanged: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions._
    val o = oldDf.select(col(idCol), md5(col(contentCol)).as("old_digest"))
    val n = newDf.select(col(idCol), md5(col(contentCol)).as("new_digest"))
    val status = when(col("old_digest").isNull, "added")
      .when(col("new_digest").isNull, "removed")
      .when(col("old_digest") === col("new_digest"), "unchanged")
      .otherwise("changed")
    val out = o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol), status.as("status"), col("old_digest"), col("new_digest"))
    if (includeUnchanged) out else out.filter(col("status") =!= "unchanged")
  }

  /** Per-file column-statistics manifest: one row per underlying data
    * file with its row count and, for every requested column, min / max /
    * null count. This is the query-side half of the layout work
    * ([[zOrderValue]], [[writeSharded]] sort the data so these ranges are
    * TIGHT): persist the manifest once per snapshot and a planner — or an
    * operator like [[pruneCandidates]] — can skip every file whose range
    * cannot match a predicate, without opening a single footer. At 100 TB
    * that is the difference between listing a manifest table of ~10⁵ rows
    * and stat-ing 10⁵ files on an object store; it is also how incremental
    * jobs pick JUST the files overlapping their key range.
    *
    * Plan shape: `_metadata.file_path` is a generated column on any file
    * source scan (no extra IO), and the aggregate is partial — each task
    * pre-combines to one row per (task, file), so the exchange carries
    * O(files) rows regardless of data size.
    *
    * Output: (file, n_rows, <c>_min, <c>_max, <c>_nulls ...). min/max of
    * an all-null file are null (no non-null value exists — range-predicate
    * pruning may drop such files for non-null predicates).
    */
  def fileStats(df: DataFrame, statCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(statCols.nonEmpty, "need at least one column to profile")
    val aggs = count(lit(1)).as("n_rows") +:
      statCols.flatMap { c =>
        Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"))
      }
    df.groupBy(col("_metadata.file_path").as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Files whose [min, max] range for `colName` can intersect [lo, hi] —
    * the manifest-side prune over a [[fileStats]] output. Conservative on
    * nulls only where it must be: an all-null file (null min/max) cannot
    * satisfy a range predicate and is dropped. The result is metadata-
    * sized; feed the file list into a source filter or an incremental
    * job's input selection.
    */
  def pruneCandidates(stats: DataFrame, colName: String,
      lo: org.apache.spark.sql.Column, hi: org.apache.spark.sql.Column)
      : DataFrame = {
    import org.apache.spark.sql.functions.col
    stats.where(col(s"${colName}_max") >= lo && col(s"${colName}_min") <= hi)
  }

  /** Z-order (Morton) interleave of `cols`, each clamped to its low `bits`
    * bits: bit i of column j lands at output bit `i * nCols + j`, so rows
    * close in EVERY dimension get close z-values. Sorting/range-sharding
    * by this value co-locates multi-column neighborhoods in the same
    * parquet files, which turns per-file column min/max into an effective
    * multi-dimensional prune — the layout step behind "OPTIMIZE ZORDER
    * BY" in lakehouse engines, here as a plain deterministic column any
    * writer can order by (compose with [[writeSharded]]).
    *
    * Inputs must be non-negative integers already scaled to fit `bits`
    * (rank or min-max normalize first — resolution beyond `bits` bits is
    * ignored by design). `bits * nCols` must fit a long (<= 63). Pure
    * bit arithmetic: engine-portable, exactly replayable in SQL.
    */
  def zOrderValue(cols: Seq[org.apache.spark.sql.Column], bits: Int)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft, shiftright}
    require(cols.nonEmpty, "need at least one column")
    // overflow-free form of bits * cols.size <= 63
    require(bits > 0 && bits <= 63 / cols.size,
      s"bits*nCols must be in [1, 63], got bits=$bits nCols=${cols.size}")
    val n = cols.size
    val parts = for {
      (c, j) <- cols.zipWithIndex
      i <- 0 until bits
    } yield shiftleft(shiftright(c.cast("long"), i).bitwiseAND(lit(1L)),
      i * n + j)
    parts.reduce(_ + _)
  }

  /** Referential-integrity audit: child keys with no matching parent —
    * the orphan check before joining two 100 TB tables (an fk-violating
    * ingest silently drops rows in inner joins downstream; this makes
    * the loss visible and attributable first). NULL child keys are
    * reported as their own row (they also vanish in joins). Scale shape:
    * the child reduces to (key, count) partial aggregates BEFORE the
    * anti-join, so the join touches distinct keys, not rows; the parent
    * side is its distinct key set.
    * Output: (orphan_key as string, n_rows), one row per violating key.
    */
  def integrityAudit(child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val ck = child.groupBy(col(childKey).as("__k")).agg(count(lit(1)).as("n_rows"))
    val pk = parent.select(col(parentKey).as("__k")).distinct()
    val orphans = ck.where(col("__k").isNotNull)
      .join(pk, Seq("__k"), "left_anti")
    val nulls = ck.where(col("__k").isNull)
    orphans.unionByName(nulls)
      .select(col("__k").cast("string").as("orphan_key"), col("n_rows"))
  }

  /** Apply a CDC changelog to a snapshot — the upsert/delete merge every
    * incrementally-maintained corpus table needs (delta ingest, GDPR
    * deletes, metadata corrections) without a lakehouse format: latest
    * change per key wins (ordered by `versionCol`, ties broken by upsert
    * over delete so a same-version delete+reinsert converges to present),
    * an `upsert` replaces the row, a `delete` removes it, keys untouched
    * by the log pass through.
    *
    * Deterministic: the winner is `max(struct(version, is_upsert, row))`
    * — one partial aggregate with an explicit total order, not a
    * dropDuplicates whose survivor depends on partition order. Scale
    * shape: the changelog (delta-sized) aggregates to one winner per
    * changed key, then ONE outer join against the snapshot on the key —
    * the snapshot never shuffles more than that join, and with both
    * sides bucketed by key ([[writeBucketed]]) the join is co-located.
    * Idempotent: applying the same log twice is a no-op (law-tested), so
    * at-least-once delivery upstream is safe.
    *
    * `changes` must carry `opCol` ("upsert"/"delete"), `versionCol`
    * (monotone per key: LSN, commit ts), and the snapshot's data columns
    * for upserts (ignored for deletes). Output: the merged snapshot with
    * the snapshot's schema.
    */
  def applyChangelog(snapshot: DataFrame, changes: DataFrame, idCol: String,
      opCol: String = "op", versionCol: String = "version"): DataFrame = {
    import org.apache.spark.sql.functions._
    val dataCols = snapshot.columns.filter(_ != idCol).toSeq
    require(dataCols.forall(changes.columns.contains),
      s"changes must carry the snapshot's data columns: ${dataCols.mkString(", ")}")
    // per-row op validation inside the plan (no driver-side pre-scan job):
    // an unknown op fails the stage loudly instead of merging as garbage
    val isUpsert = when(col(opCol).isin("upsert", "delete"), col(opCol) === "upsert")
      .otherwise(raise_error(concat(
        lit("applyChangelog: unknown op '"), col(opCol), lit("'"))))
    val winner = changes
      .groupBy(col(idCol))
      .agg(max(struct(
        col(versionCol).as("__v"),
        isUpsert.as("__up"),
        struct(dataCols.map(col): _*).as("__row"))).as("__w"))
      .select(col(idCol), col("__w.__up").as("__up"), col("__w.__row").as("__row"))
    snapshot.join(winner, Seq(idCol), "full_outer")
      .where(col("__up").isNull || col("__up")) // latest op delete → drop
      .select(col(idCol) +: dataCols.map(c =>
        when(col("__up").isNotNull, col(s"__row.$c")).otherwise(col(c)).as(c)): _*)
  }

  /** Declarative data-quality rules, evaluated in ONE corpus scan — the
    * Deequ-style contract check a pipeline runs before promoting a
    * snapshot: every rule's violation count, permille rate, and pass
    * flag in a table shaped for diffing across snapshots. Null handling
    * is explicit and uniform: only [[Expectation.NotNull]] counts nulls
    * — every value-shaped rule skips them (a null cell is a completeness
    * problem, not a range/pattern/set problem; counting it twice would
    * double-bill one defect).
    *
    * Scale shape: all row-local rules fuse into a single partial
    * aggregate (one scan, one one-row exchange); each
    * [[Expectation.Unique]] adds an exact count-distinct to the SAME
    * aggregate (Spark plans multi-distinct via one Expand — still one
    * scan, but the Expand REPLICATES every scanned row once per distinct
    * rule, so d exact-unique rules shuffle ~d× the corpus). At 100 TB
    * use [[Expectation.UniqueApprox]] instead: the HLL++ sketch is a
    * plain declarative aggregate — no Expand, any number of unique rules
    * rides the same un-multiplied scan, at the price of rsd-approximate
    * violation counts (keep the exact tier as the audit twin). The
    * report reshapes plan-side from the one aggregate row via
    * an explode of per-rule structs: no driver loop, no per-rule job.
    *
    * Output: (rule, column, detail, n_rows, n_violations,
    * violation_permille, passed), one row per rule in input order. An
    * EMPTY table reports NULL violation_permille and passed = false for
    * every rule: zero rows is the one state no expectation can vouch for,
    * so the gate fails closed instead of promoting a void snapshot with a
    * clean 0-permille report.
    */
  def expectationReport(df: DataFrame, rules: Seq[Expectation]): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.functions.exact.scaled
    require(rules.nonEmpty, "need at least one expectation")
    val aggs = count(lit(1)).cast("long").as("__n") +: rules.zipWithIndex.map {
      case (Expectation.Unique(c), i) =>
        // duplicates = non-null rows minus distinct values (countDistinct
        // ignores nulls, so the non-null base keeps the two consistent)
        (sum(when(col(c).isNotNull, 1L).otherwise(0L)) - countDistinct(col(c)))
          .cast("long").as(s"__v$i")
      case (Expectation.UniqueApprox(c, rsd), i) =>
        // HLL++ sketch is a REGULAR declarative aggregate — no Expand, so
        // any number of these rules still costs one un-multiplied scan;
        // the sketch can overshoot the true cardinality by up to rsd, so
        // clamp at 0 rather than report negative duplicates. The error's
        // other sign survives the clamp: an UNDERestimate yields spurious
        // positive violations (passed = false on clean data) — see the
        // UniqueApprox scaladoc for the false-fail contract
        greatest(lit(0L),
          sum(when(col(c).isNotNull, 1L).otherwise(0L)) -
            approx_count_distinct(col(c), rsd))
          .cast("long").as(s"__v$i")
      case (r, i) =>
        sum(when(r.violation, 1L).otherwise(0L)).cast("long").as(s"__v$i")
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = array(rules.zipWithIndex.map { case (r, i) =>
      struct(lit(r.rule).as("rule"), lit(r.column).as("column"),
        lit(r.detail).as("detail"),
        coalesce(col(s"__v$i"), lit(0L)).as("n_violations"))
    }: _*)
    one.select(col("__n"), explode(rows).as("__r"))
      .select(col("__r.rule").as("rule"), col("__r.column").as("column"),
        col("__r.detail").as("detail"), col("__n").as("n_rows"),
        col("__r.n_violations").as("n_violations"),
        // empty table: NULL rate (the drift-monitor convention — 0 is the
        // all-clear reading, and "the snapshot produced no rows" is the
        // maximal anomaly a promotion gate exists to catch) and passed =
        // false so the gate FAILS CLOSED rather than promoting a void
        scaled(col("__r.n_violations"), col("__n"), 1000L).as("violation_permille"),
        (col("__n") > 0 && col("__r.n_violations") === 0L).as("passed"))
  }
}

/** One declarative data-quality rule for [[Tables.expectationReport]].
  * `violation` is the row-local predicate counting a row against the
  * rule (Unique is the exception — it is aggregate-shaped and handled
  * structurally in the report).
  */
sealed trait Expectation {
  def rule: String
  def column: String
  def detail: String
  private[ops] def violation: org.apache.spark.sql.Column
}

object Expectation {
  import org.apache.spark.sql.functions._

  /** Completeness: a null cell violates. */
  case class NotNull(column: String) extends Expectation {
    val rule = "not_null"; val detail = ""
    private[ops] def violation = col(column).isNull
  }

  /** Pattern conformance over NON-NULL values. `rlike` semantics: the
    * pattern matches if it matches ANY substring, so anchor it
    * (`^...$`) when the rule means full-string conformance — unanchored
    * `[a-z]{2}` passes "ZZab12".
    */
  case class Matches(column: String, pattern: String) extends Expectation {
    val rule = "matches"; def detail = pattern
    private[ops] def violation = col(column).isNotNull && !col(column).rlike(pattern)
  }

  /** Inclusive numeric range over NON-NULL values. */
  case class Between(column: String, lo: Long, hi: Long) extends Expectation {
    require(lo <= hi, "lo must be <= hi")
    val rule = "between"; def detail = s"[$lo, $hi]"
    private[ops] def violation =
      col(column).isNotNull && (col(column) < lo || col(column) > hi)
  }

  /** Inclusive character-length range over NON-NULL strings. */
  case class LengthBetween(column: String, lo: Long, hi: Long) extends Expectation {
    require(lo <= hi, "lo must be <= hi")
    val rule = "length_between"; def detail = s"[$lo, $hi]"
    private[ops] def violation = col(column).isNotNull &&
      (length(col(column)) < lo || length(col(column)) > hi)
  }

  /** Set membership over NON-NULL values. */
  case class InSet(column: String, values: Seq[String]) extends Expectation {
    require(values.nonEmpty, "need at least one allowed value")
    val rule = "in_set"; def detail = values.mkString("{", ",", "}")
    private[ops] def violation =
      col(column).isNotNull && !col(column).isin(values: _*)
  }

  /** Key uniqueness: each duplicate occurrence beyond the first counts
    * one violation (nulls are [[NotNull]]'s business, not duplicates).
    */
  case class Unique(column: String) extends Expectation {
    val rule = "unique"; val detail = ""
    private[ops] def violation =
      throw new UnsupportedOperationException("Unique is aggregate-shaped")
  }

  /** Sketch-tier key uniqueness (HLL++, relative sd `rsd`): violation
    * count is approximate within the sketch's error, clamped at 0. The
    * 100 TB tier of [[Unique]] — no Expand row replication, so many
    * unique rules still cost one un-multiplied scan. The sketch error
    * cuts BOTH ways and both directions are the documented trade:
    * an overestimate hides real duplicates below the sketch's resolution
    * (~rsd·n — false pass), and an UNDERestimate manufactures spurious
    * positive n_violations on a genuinely unique column, so
    * passed = false can fire on clean data (false fail, again ~rsd·n
    * sized). Treat a sketch-tier failure as "re-check with [[Unique]]",
    * not as a verdict — alerting strictly on n_violations = 0 from an
    * approximate counter is noisy by construction at scale. Same null
    * discipline as [[Unique]].
    */
  case class UniqueApprox(column: String, rsd: Double = 0.05)
      extends Expectation {
    require(rsd > 0 && rsd < 0.4, "rsd must be in (0, 0.4)")
    val rule = "unique_approx"; def detail = s"rsd=$rsd"
    private[ops] def violation =
      throw new UnsupportedOperationException("UniqueApprox is aggregate-shaped")
  }
}
