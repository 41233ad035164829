package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types.StructType

/** `spark.readStream.format("graft").load(path)` — the versioned table
  * as a STREAMING SOURCE (Delta's `readStream` idiom, re-derived on the
  * DataSource-V1 `Source` API, the same seam DeltaSource uses): offsets
  * ARE table versions, each micro-batch is the rows the covered
  * commits ADDED, and the source's first batch is the anchor snapshot
  * (the table's state when the stream started) unless `startingVersion`
  * says otherwise — so a consumer gets "full table, then the live
  * tail", exactly Delta's default.
  *
  * Change semantics, Delta's contract re-expressed over the manifest
  * headers (this log records file diffs, not row intent):
  *   - APPEND-SHAPED commits (adds only) stream their added rows;
  *   - MAINTENANCE commits (optimize / compact / bloom / constraint /
  *     generated-column / rename / drop / vacuum bookkeeping) move no
  *     data and stream NOTHING — the op header is this log's
  *     `dataChange=false`;
  *   - anything that REMOVES or RE-VECTORS rows (COW delete/update/
  *     merge rewrites, MoR deletion vectors, overwrite, rollback)
  *     fails the stream with guidance, unless
  *     `ignoreDeletes` (delete-only commits: removes/vectors but no
  *     adds), `ignoreChanges` (any commit: its ADDED files stream,
  *     which re-emits the rewritten survivors — Delta's exact caveat),
  *     or `skipChangeCommits` (Delta's current spelling: change
  *     commits are skipped ENTIRELY, nothing of them streams) opts in.
  *
  * `maxVersionsPerTrigger` bounds catch-up by COMMIT count;
  * `maxFilesPerTrigger` (Delta's option) bounds it by ADDED-FILE count
  * and splits WITHIN a commit — a single 100-file commit drains in
  * ceil(100/cap) micro-batches, each individually checkpointed, so one
  * giant backfill commit can never force a giant batch;
  * `maxBytesPerTrigger` (Delta's option; `"100m"`/`"1g"`/bytes) bounds
  * it by ADDED BYTES — the knob that actually tracks executor memory
  * when file sizes vary — as a soft max (a batch may exceed it by at
  * most one file, and one over-budget file still makes progress). All
  * three compose (version cap applied first, then whichever of the
  * file/byte budgets exhausts first).
  *
  * Scale: offsets and classification are header-only reads; each
  * batch's plan scans ONLY the covered commits' added files (a
  * file-paced batch scans only its SLICE of them). */
final class GraftStreamSource(spark: SparkSession, path: String,
    options: Map[String, String]) extends Source {

  private val ignoreChanges =
    options.get("ignorechanges").exists(_.trim.toBoolean)
  private val ignoreDeletes =
    options.get("ignoredeletes").exists(_.trim.toBoolean)
  // Delta's current spelling: a commit that changes or removes existing
  // rows is skipped ENTIRELY (nothing of it streams, the tail
  // continues), where ignoreChanges re-emits its added files. When both
  // are set, skipChangeCommits wins (the stricter, newer semantic).
  private val skipChangeCommits =
    options.get("skipchangecommits").exists(_.trim.toBoolean)
  private val maxVersions = options.get("maxversionspertrigger")
    .map(_.trim.toLong).filter(_ > 0)
  private val maxFiles = options.get("maxfilespertrigger")
    .map(_.trim.toInt).filter(_ > 0)
  // Delta's byte-budget spelling ("100m", "1g", or plain bytes): a SOFT
  // max — files admit while budget remains, so a batch may exceed it by
  // at most one file and a single over-budget file still makes progress
  private val maxBytes = options.get("maxbytespertrigger")
    .map(GraftStreamSource.parseBytes).filter(_ > 0)

  /** Per-file sizes for the byte budget, memoized — data files are
    * immutable, so an entry can never go stale; one stat per file per
    * stream run, same order as the header reads pacing already does. */
  private val sizeCache = scala.collection.mutable.HashMap.empty[String, Long]
  private def sizeOf(f: String): Long =
    sizeCache.getOrElseUpdate(f, VersionedTable.dataFileSize(spark, path, f))

  // the anchor: versions ≤ anchor arrive as ONE snapshot batch (the
  // stream's initial state); startingVersion=N instead tails from N
  // (inclusive) with no snapshot, Delta's option semantics —
  // startingTimestamp is the same tail anchored at the first commit
  // at-or-after the timestamp (Delta's spelling pair)
  private val startingVersion = {
    // conflicting spellings are an error (Delta's rule), not a silent
    // orElse preference — the ignored one would shift the tail anchor
    require(options.get("startingversion").isEmpty ||
      options.get("startingtimestamp").isEmpty,
      "specify at most one of startingVersion / startingTimestamp")
    options.get("startingversion").map(_.trim.toLong)
      .orElse(options.get("startingtimestamp").map(ts =>
        GraftTable.forPath(spark, path).versionAtOrAfter(ts.trim)))
  }
  private val anchor: Long = {
    val latest = VersionedTable.latestVersion(spark, path)
    require(latest >= 0, s"no committed versions at $path")
    // a startingVersion below an expireLog cut would otherwise surface
    // as a raw missing-manifest error mid-stream — fail at construction
    // with guidance instead (Delta's versions-no-longer-available error)
    startingVersion.foreach(sv => require(
      sv >= 0 && (sv > latest || VersionedTable.hasVersion(spark, path, sv)),
      s"startingVersion $sv is no longer available at $path (log expired " +
        "below it); omit startingVersion to start from the current snapshot"))
    startingVersion.map(_ - 1).getOrElse(latest)
  }

  private val schema0: StructType =
    VersionedTable.readVersion(spark, path).schema

  override def schema: StructType = schema0

  /** Highest offset already OFFERED to the engine — the rate limit's
    * pacing base, as (fully covered version, extra files of the next
    * version). Pacing off offered (not committed) offsets is sound:
    * the engine plans batches strictly sequentially within a run, and a
    * restart builds a fresh source whose start comes from the
    * checkpoint, so an advanced-but-unprocessed window dies with the
    * run. */
  @volatile private var paced: (Long, Int) = (anchor, 0)

  override def getOffset: Option[OffsetV1] = {
    val latest = VersionedTable.latestVersion(spark, path)
    val (pv0, pi0) = paced
    val vCap = maxVersions.map(mx => math.min(latest, pv0 + mx)).getOrElse(latest)
    if (vCap < anchor) return None
    val next: (Long, Int) =
      if (maxFiles.isEmpty && maxBytes.isEmpty) (math.max(pv0, vCap), 0)
      else {
        // spend the file/byte budgets walking forward from the paced
        // point; a version's adds split across offers when a budget
        // runs out mid-commit. Maintenance commits cost NOTHING even
        // though they add files (an optimize's compacted outputs never
        // stream — getBatch skips them), and under skipChangeCommits
        // skipped change commits cost nothing either — charging either
        // would stall the paced stream behind empty micro-batches.
        var v = pv0; var i = pi0
        var fBudget: Long = maxFiles.map(_.toLong).getOrElse(Long.MaxValue)
        var bBudget: Long = maxBytes.getOrElse(Long.MaxValue)
        while (fBudget > 0 && bBudget > 0 && v < vCap) {
          val (op, adds, removes, dvFiles, _) =
            VersionedTable.commitSummary(spark, path, v + 1)
          val skipped = skipChangeCommits &&
            isChangeCommit(op, v + 1, adds, removes, dvFiles)
          val n = if (isMaintenance(op) || skipped) 0 else adds.size
          if (i >= n) { v += 1; i = 0 }
          else {
            // per-file admission: the byte budget is a soft max (a file
            // admits while ANY budget remains, saturating at zero)
            if (maxBytes.isDefined)
              bBudget = math.max(0L, bBudget - math.max(1L, sizeOf(adds(i))))
            fBudget -= 1; i += 1
            if (i >= n) { v += 1; i = 0 }
          }
        }
        (v, i)
      }
    paced = if (next._1 > paced._1 ||
      (next._1 == paced._1 && next._2 > paced._2)) next else paced
    // offset format: plain version when nothing is file-split (stable
    // with pre-existing checkpoints), composite otherwise
    if (paced._2 == 0) Some(LongOffset(paced._1))
    else Some(GraftSourceOffset(paced._1, paced._2))
  }

  /** (fully covered version, extra files of the next version). A plain
    * long json (the historical format, and every offset with no split)
    * parses as (v, 0). */
  private def parseOffset(o: OffsetV1): (Long, Int) = o match {
    case g: GraftSourceOffset => (g.v, g.i)
    case l: LongOffset => (l.offset, 0)
    case other =>
      val j = other.json.trim
      GraftSourceOffset.JsonR.findFirstMatchIn(j) match {
        case Some(m) => (m.group(1).toLong, m.group(2).toInt)
        case None => (j.toLong, 0)
      }
  }

  /** Batch-align to the source's declared schema: an old version may
    * predate an evolved column (reads null), and attribute order must
    * match the relation's. */
  private def align(df: DataFrame): DataFrame =
    df.select(schema0.fields.map(f =>
      (if (df.columns.contains(f.name)) col(f.name) else lit(null))
        .cast(f.dataType).as(f.name)).toIndexedSeq: _*)

  private val NoDataChangeOps =
    Set("optimize", "optimize_where", "compact", "set_bloom_index",
      "reorg_purge")
  private def isMaintenance(op: String): Boolean =
    NoDataChangeOps.contains(op) ||
      op.startsWith("add_constraint") || op.startsWith("drop_constraint") ||
      op.startsWith("add_generated") || op.startsWith("drop_generated") ||
      op.startsWith("rename_column") || op.startsWith("drop_column")

  /** A commit that changes or removes existing rows — the class that
    * fails the stream by default, re-emits under `ignoreChanges`, and
    * is skipped whole under `skipChangeCommits`. Version 0 is table
    * CREATION: an "overwrite" there rewrites nothing (pure insert). */
  private def isChangeCommit(op: String, v: Long, adds: Seq[String],
      removes: Seq[String], dvFiles: Iterable[String]): Boolean =
    removes.nonEmpty || dvFiles.nonEmpty ||
      (op == "overwrite" && v > 0) || op.startsWith("rollback")

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    // exclusive lower bound: the snapshot batch covers ≤ anchor, a
    // startingVersion tail begins at anchor+1 = startingVersion — both
    // reduce to "no checkpoint means from = (anchor, 0)". `si` files of
    // version from+1 were already delivered; `ei` files of version to+1
    // belong to THIS batch (the file-paced split points).
    val (from, si) = start.map(parseOffset).getOrElse((anchor, 0))
    val (to, ei) = parseOffset(end)
    // sync the pacing base to the engine's offset: on RESTART the engine
    // replays getBatch for the last checkpointed batch before asking for
    // new offsets, so rate limits resume from the checkpoint instead of
    // from the anchor (which would regress the offset — duplicate
    // delivery — or, re-anchored at the new head, skip pacing entirely).
    // DeltaSource syncs its base the same way. (getOffset/getBatch run
    // on the single stream-execution thread — plain assignment is safe.)
    if (to > paced._1 || (to == paced._1 && ei > paced._2))
      paced = (to, ei)
    val snapshotPart: Option[DataFrame] =
      if (start.isEmpty && startingVersion.isEmpty && to >= anchor)
        Some(VersionedTable.readVersion(spark, path, anchor))
      else None
    val lastV = if (ei > 0) to + 1 else to
    val tailParts = ((from + 1) to lastV).flatMap { v =>
      val (op, adds, removes, dvFiles, _) =
        VersionedTable.commitSummary(spark, path, v)
      if (isMaintenance(op)) None
      else if (skipChangeCommits && isChangeCommit(op, v, adds, removes, dvFiles))
        None // Delta's skipChangeCommits: the whole commit is silently
             // skipped, the tail continues past it
      else {
        val deletesRows = removes.nonEmpty || dvFiles.nonEmpty
        // version 0 is table CREATION: an "overwrite" there rewrites
        // nothing and is a pure insert (Delta streams commit 0's adds
        // under startingVersion=0 the same way)
        val fullRewrite = (op == "overwrite" && v > 0) || op.startsWith("rollback")
        if ((deletesRows || fullRewrite) && !ignoreChanges) {
          val deleteOnly = adds.isEmpty && !fullRewrite
          if (!(deleteOnly && ignoreDeletes))
            throw new UnsupportedOperationException(
              s"version $v ($op) at $path changes or removes existing rows; " +
                "a streaming read tails appends only. Set ignoreDeletes=true " +
                "to skip delete-only commits, ignoreChanges=true to stream " +
                "every commit's added files (rewritten survivors re-emit), or " +
                "skipChangeCommits=true to skip change commits entirely")
          None
        }
        else {
          val lo = if (v == from + 1) si else 0
          val hi = if (v == to + 1) ei else Int.MaxValue
          VersionedTable.addedRows(spark, path, v, lo, hi).map(align)
        }
      }
    }
    // BALANCED union (shared with the batch CDF): an UNPACED catch-up —
    // startingVersion deep in the log with neither maxVersionsPerTrigger
    // nor maxFilesPerTrigger — covers every version in ONE batch, and a
    // left-leaning reduce chain over 1,000+ legs is quadratic analyzer
    // time (the exact plan shape the batch CDF fixed).
    val legs = (snapshotPart.map(align).toSeq ++ tailParts).toIndexedSeq
    val batch =
      if (legs.nonEmpty) GraftDataSource.balancedUnion(legs)
      else align(VersionedTable.readVersion(spark, path, anchor)).limit(0)
    // the v1 contract: getBatch's frame must be streaming-tagged; the
    // already-planned batch plan is wrapped via its InternalRow RDD
    Shims.streamingDf(spark, batch.queryExecution.toRdd, schema0)
  }

  override def stop(): Unit = ()

  override def toString: String = s"GraftStreamSource[$path]"
}

/** Composite stream offset for file-paced catch-up: versions ≤ `v`
  * fully covered, plus the first `i` added files of version `v + 1`.
  * The unsplit case serializes as the historical plain-long
  * `LongOffset`, so checkpoints written before (or without)
  * `maxFilesPerTrigger` keep resolving. */
private[sources] final case class GraftSourceOffset(v: Long, i: Int)
    extends OffsetV1 {
  override def json: String = s"""{"v":$v,"i":$i}"""
}

private[sources] object GraftSourceOffset {
  val JsonR: scala.util.matching.Regex =
    """\{\s*"v"\s*:\s*(-?\d+)\s*,\s*"i"\s*:\s*(\d+)\s*\}""".r
}

private[graft] object GraftStreamSource {
  /** `"123"`, `"100k"`, `"64m"`, `"1g"` → bytes (Delta's size-string
    * option spelling). */
  private[graft] def parseBytes(s: String): Long = {
    val t = s.trim.toLowerCase(java.util.Locale.ROOT)
    val (num, mult) = t.last match {
      case 'k' => (t.dropRight(1), 1L << 10)
      case 'm' => (t.dropRight(1), 1L << 20)
      case 'g' => (t.dropRight(1), 1L << 30)
      case 'b' => (t.dropRight(1), 1L)
      case _ => (t, 1L)
    }
    require(num.nonEmpty && num.forall(_.isDigit),
      s"bad maxBytesPerTrigger: '$s' (use bytes or a k/m/g suffix)")
    num.toLong * mult
  }
}
