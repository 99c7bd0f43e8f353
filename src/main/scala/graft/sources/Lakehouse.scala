package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

import java.nio.charset.StandardCharsets

/** Minimal lakehouse table layer: partitioned-parquet tables with
  * create-or-replace, O(1) append, snapshot history, and time travel.
  *
  * Plays the role of the reference's Iceberg/Nessie catalog layer
  * (reference: spark_jobs/mongo_to_iceberg.py:90
  * `writeTo(...).createOrReplace()`, silver_transformation.py:71,
  * query_iceberg.ipynb time-travel cells) re-expressed without
  * connector jars: a table is a directory of immutable snapshot
  * data-dirs plus a manifest log, and a snapshot is a LIST OF DIRS —
  * so an append writes only the delta files and a new manifest line
  * (never rewrites history), exactly the property that matters at
  * 100 TB. Readers go through `spark.read.parquet(dirs…)` so Catalyst
  * pushdown/pruning applies unchanged.
  *
  * Layout:
  * {{{
  *   root/<table>/data-<n>/…parquet     immutable data dirs
  *   root/<table>/_snapshots.jsonl      {"snap":n,"dirs":[…]} per line
  *   root/<table>/_current              text: latest snapshot id
  * }}}
  */
/** One `WHEN MATCHED` MERGE clause: optional row-local condition,
  * DELETE vs UPDATE, and for UPDATE either `SET *` (None) or explicit
  * `col = expr` assignments ([[Lakehouse.sqlMergeClauses]]). */
case class MergeMatched(cond: Option[Column], isDelete: Boolean,
    assignments: Option[Seq[(String, Column)]] = None)

/** The `WHEN NOT MATCHED` MERGE clause: optional row-local condition
  * and either `INSERT *` (None) or an explicit
  * `INSERT (cols) VALUES (exprs)` — expressions reference the source
  * alias; unlisted target columns insert NULL
  * ([[Lakehouse.sqlMergeClauses]]). */
case class MergeInsert(cond: Option[Column],
    columns: Option[(Seq[String], Seq[Column])] = None)

class Lakehouse(private[sources] val spark: SparkSession, private[sources] val root: String) {

  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration) match {
      // the RAW local fs, not the checksummed wrapper: ledger swaps
      // must be one POSIX rename(2) — atomic REPLACE, no instant where
      // the pointer is absent — while ChecksumFileSystem's rename is a
      // multi-step data+crc dance with visible windows (and its .crc
      // sidecars double every ledger's file count for no benefit here)
      case l: org.apache.hadoop.fs.LocalFileSystem => l.getRaw
      case other => other
    }

  private def tableDir(table: String) = new Path(root, table)
  private def manifest(table: String) = new Path(tableDir(table), "_snapshots.jsonl")

  // ---- segmented snapshot ledger ----
  // The ledger is an ordered chain of segments: `_snapshots.jsonl`
  // (the base, always present) then `_snapshots-2.jsonl`, `-3.jsonl`,
  // …. A commit rewrites only the LAST segment (bounded at
  // [[Lakehouse.SegmentMaxLines]] lines), so commit cost is O(segment),
  // not O(table history) — the failure mode of a single ever-growing
  // manifest file that Iceberg's metadata-file-per-commit design
  // exists to avoid. Filled segments are immutable (only expiry
  // consolidates them away), which is what makes the parsed-segment
  // cache sound: a (path, mtime, length) key can only go stale by the
  // file actually changing.

  /** All ledger segments in commit order (base first). A segment whose
    * real file is missing mid-swap but whose `.tmp` survives is still
    * discovered — [[readLines]] falls back to the complete temp, so a
    * crash between writeFile's delete and rename never makes
    * acknowledged history invisible (which would let the next append
    * start a fresh base over it). */
  private def manifestSegs(table: String): Seq[Path] = {
    val base = manifest(table)
    def liveOrTmp(p: Path): Boolean =
      fs.exists(p) || fs.exists(new Path(p.getParent, p.getName + ".tmp"))
    if (!liveOrTmp(base)) return Seq.empty
    val extra = scala.util.Try(fs.listStatus(tableDir(table)).toSeq).getOrElse(Seq.empty)
      .map(_.getPath.getName)
      .collect {
        case n if n.startsWith("_snapshots-") && n.endsWith(".jsonl") => n
        case n if n.startsWith("_snapshots-") && n.endsWith(".jsonl.tmp") =>
          n.stripSuffix(".tmp") // mid-swap segment: surface its real name
      }
      .distinct
      .sortBy(_.stripPrefix("_snapshots-").stripSuffix(".jsonl").toInt)
      .map(new Path(tableDir(table), _))
    base +: extra
  }

  /** Every ledger line across segments, oldest first — the one read
    * path all manifest parsers go through. Full segments hit the
    * parsed cache; at most the base and the live tail are re-read.
    * Lines are deduplicated by snapshot id (first occurrence wins):
    * a crash between expiry's consolidated-base write and its extra-
    * segment deletes leaves stale tails whose lines all re-appear in
    * the base — the first-wins rule makes readers immune, and
    * [[appendManifestLine]] deletes such stale tails at the next
    * commit. */
  private def manifestLines(table: String): Seq[String] = {
    val raw = manifestSegs(table).flatMap { seg =>
      val st = scala.util.Try(fs.getFileStatus(seg)).toOption
      st match {
        case None => readLines(seg) // mid-swap (.tmp fallback): never cache
        case Some(s) =>
          val key = (seg.toString, s.getModificationTime, s.getLen)
          val hit = Lakehouse.manifestCache.get(key)
          if (hit != null) hit
          else {
            val lines = readLines(seg)
            if (Lakehouse.manifestCache.size > 512) Lakehouse.manifestCache.clear()
            Lakehouse.manifestCache.put(key, lines)
            lines
          }
      }
    }
    val seen = scala.collection.mutable.Set.empty[Long]
    raw.filter { line =>
      SnapIdRe.findFirstMatchIn(line).map(_.group(1).toLong) match {
        case Some(id) => seen.add(id)
        case None => true
      }
    }
  }

  private val SnapIdRe = """"snap":(\d+)""".r

  private def segIdsOf(lines: Seq[String]): Set[Long] =
    lines.flatMap(l => SnapIdRe.findFirstMatchIn(l).map(_.group(1).toLong)).toSet

  /** Append one commit line: rewrite the last segment if it has room,
    * else start the next one. Called only under the table lock. Also
    * the self-heal point for an interrupted expiry consolidation: an
    * extra segment whose snapshot ids all already appear in earlier
    * segments is a stale pre-consolidation leftover and is deleted
    * before the append. */
  private def appendManifestLine(table: String, line: String): Unit = {
    var segs = manifestSegs(table)
    if (segs.size > 1) {
      var earlier = segIdsOf(readLines(segs.head))
      val (keep, stale) = segs.tail.foldLeft((Seq(segs.head), Seq.empty[Path])) {
        case ((k, s), seg) =>
          val ids = segIdsOf(readLines(seg))
          // ANY id overlap with earlier segments marks the tail stale:
          // healthy segments never share ids, and consolidation wrote
          // every KEPT line into the base — so a stale tail's non-
          // overlapping lines are exactly the expired ones, safe to drop
          if (ids.exists(earlier.contains)) (k, s :+ seg)
          else { earlier ++= ids; (k :+ seg, s) }
      }
      stale.foreach { p =>
        fs.delete(p, false)
        fs.delete(new Path(p.getParent, p.getName + ".tmp"), false)
      }
      segs = keep
    }
    if (segs.isEmpty) { writeFile(manifest(table), line + "\n"); return }
    val last = segs.last
    val lastLines = readLines(last)
    if (lastLines.size < Lakehouse.SegmentMaxLines)
      writeFile(last, (lastLines :+ line).mkString("\n") + "\n")
    else {
      val nextIdx =
        if (segs.size == 1) 2
        else segs.last.getName.stripPrefix("_snapshots-").stripSuffix(".jsonl").toInt + 1
      writeFile(new Path(tableDir(table), s"_snapshots-$nextIdx.jsonl"), line + "\n")
    }
  }

  /** Replace the whole ledger with `lines` (expiry's consolidation):
    * everything lands back in the base segment and the extra segments
    * are removed. Called only under the table lock. Ordering is
    * deliberate — base first, THEN deletes: a crash in between leaves
    * stale tails whose lines duplicate the base, which readers ignore
    * (first-occurrence dedup in [[manifestLines]]) and the next
    * commit's self-heal removes; the reverse order could lose kept
    * snapshots. */
  private def rewriteManifest(table: String, lines: Seq[String]): Unit = {
    writeFile(manifest(table), if (lines.isEmpty) "" else lines.mkString("\n") + "\n")
    manifestSegs(table).drop(1).foreach { p =>
      fs.delete(p, false)
      fs.delete(new Path(p.getParent, p.getName + ".tmp"), false)
    }
  }

  /** The table's directory (for inspection/specs). */
  def tableRoot(table: String): Path = tableDir(table)

  /** Branch pointer file — git/Nessie-style: a branch is just a named
    * pointer into the shared snapshot history; `main` keeps the legacy
    * `_current` filename. */
  private def currentPtr(table: String, branch: String = "main") =
    new Path(tableDir(table), if (branch == "main") "_current" else s"_branch_$branch")

  private def readLines(p: Path): Seq[String] = readLinesAttempt(p,
    new Path(p.getParent, p.getName + ".tmp"), attempt = 1)

  /** Crash-recovery AND concurrent-swap tolerance for [[writeFile]]'s
    * delete→rename pointer swap: if the target is missing, the
    * complete temp is authoritative; if the chosen file VANISHES
    * between resolution and open (a concurrent writer finished the
    * swap — the race a stream's polling thread hits against a live
    * commit), re-resolve and retry (bounded — a persistent
    * FileNotFound is a real I/O problem and rethrows). The
    * genuinely-absent common case (optional ledgers) stays two stat
    * calls with no sleeps and no retries. */
  private def readLinesAttempt(p: Path, tmpP: Path, attempt: Int): Seq[String] = {
    val target = if (fs.exists(p)) p else tmpP
    if (!fs.exists(target)) {
      // neither visible at the instants checked: either genuinely
      // absent (p still missing — the common case) or the rename
      // landed between the two stats — re-resolve
      if (fs.exists(p) && attempt < 8) readLinesAttempt(p, tmpP, attempt + 1)
      else Seq.empty
    } else {
      try {
        val in = fs.open(target)
        try new String(org.apache.commons.io.IOUtils.toByteArray(in),
          StandardCharsets.UTF_8).split("\n").toSeq.filter(_.nonEmpty)
        finally in.close()
      } catch {
        case e: java.io.FileNotFoundException =>
          if (attempt >= 8) throw e
          readLinesAttempt(p, tmpP, attempt + 1)
      }
    }
  }

  /** Durable file replace: write a temp file, then swap it in. A crash
    * mid-write leaves either the previous complete file or the
    * complete temp beside it — never a truncated manifest/pointer.
    * RENAME-FIRST (r14): POSIX/local rename REPLACES an existing
    * destination atomically, so on local filesystems there is NO
    * instant where the pointer is absent — a reader polling `_current`
    * against a storm of commits (a streaming source's offset thread)
    * always sees a complete committed state. Filesystems that refuse
    * an existing destination (HDFS semantics return false) fall back
    * to the delete+rename pair, whose narrow window readers bridge
    * via [[readLinesAttempt]]'s temp fallback + bounded retry. */
  private def writeFile(p: Path, content: String): Unit = {
    val tmp = new Path(p.getParent, p.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, p)) {
      if (fs.exists(p)) fs.delete(p, false)
      fs.rename(tmp, p)
    }
  }

  /** Parsed manifest: snapshot id → data entries composing it. An
    * entry is either a whole data dir ("data-3") or, after a
    * partition-scoped upsert, a partition leaf inside one
    * ("data-3/p=2") — the granularity that lets a MERGE rewrite one
    * partition while every other partition keeps its original files. */
  def snapshots(table: String): Seq[(Long, Seq[String])] =
    manifestLines(table).map { line =>
      val snap = """"snap":(\d+)""".r.findFirstMatchIn(line).get.group(1).toLong
      val dirs = """"dirs":\[([^\]]*)\]""".r.findFirstMatchIn(line).get.group(1)
        .split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty)
      (snap, dirs)
    }

  /** Merge-on-read delete (tombstone) dirs per snapshot, in commit
    * order. A tombstone `_deletes-M` holds the DELETED KEY rows
    * (equality deletes: its columns ARE the key columns) and applies
    * to data dirs `data-N` with N < M only — the Iceberg v2
    * sequence-number rule, which is what lets a later append
    * legitimately re-insert a deleted key. */
  def snapshotDeletes(table: String): Map[Long, Seq[String]] =
    manifestLines(table).flatMap { line =>
      """"snap":(\d+)""".r.findFirstMatchIn(line).map(_.group(1).toLong).map { snap =>
        val dels = """"deletes":\[([^\]]*)\]""".r.findFirstMatchIn(line)
          .map(_.group(1).split(",").toSeq
            .map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty))
          .getOrElse(Seq.empty)
        snap -> dels
      }
    }.toMap

  /** Commit wall-clock (epoch millis) per snapshot, from the
    * manifest's `ts` field — the ledger `TIMESTAMP AS OF` resolves
    * against. Pre-`ts` manifest lines (older tables) are absent from
    * the map and simply can't be addressed by timestamp. */
  def snapshotTimes(table: String): Seq[(Long, Long)] =
    manifestLines(table).flatMap { l =>
      for {
        s <- """"snap":(\d+)""".r.findFirstMatchIn(l).map(_.group(1).toLong)
        t <- """"ts":(\d+)""".r.findFirstMatchIn(l).map(_.group(1).toLong)
      } yield s -> t
    }

  /** TIMESTAMP-AS-OF resolution, shared by [[readAsOf]] and the DSv2
    * catalog so SQL and DataFrame time travel can never disagree: the
    * LATEST snapshot committed at-or-before `tsMillis`, in manifest
    * (commit) order, capped at the branch's current head. The cap is
    * the linear-ledger scoping rule — branches are pointers into ONE
    * immutable snapshot sequence, so "on the branch" means "at or
    * before its head": a commit made only to a sibling branch after
    * this branch's head can never serve, and a rolled-back branch
    * serves its rolled-back-to state, not the abandoned future. */
  def asOfSnapshot(table: String, tsMillis: Long,
      branch: String = "main"): Option[Long] =
    currentSnapshot(table, branch).flatMap { cap =>
      snapshotTimes(table)
        .filter(t => t._2 <= tsMillis && t._1 <= cap).map(_._1).lastOption
    }

  /** Time travel by wall-clock: read the LATEST snapshot committed at
    * or before `tsMillis` (Iceberg's `TIMESTAMP AS OF` rule). */
  def readAsOf(table: String, tsMillis: Long): DataFrame =
    readSnapshot(table, asOfSnapshotOrFail(table, tsMillis))

  /** [[asOfSnapshot]] on main, failing when nothing was committed by
    * `tsMillis`. */
  private[graft] def asOfSnapshotOrFail(table: String, tsMillis: Long): Long =
    asOfSnapshot(table, tsMillis).getOrElse(throw new IllegalArgumentException(
      s"$table has no snapshot committed at or before $tsMillis"))

  /** Streaming batch ids recorded in commit metadata (see
    * [[appendOnce]]) — the commit-dedup ledger that makes the
    * stream→lakehouse sink exactly-once across restarts. */
  def committedBatches(table: String): Set[Long] =
    manifestLines(table).flatMap(l =>
      """"batch":(-?\d+)""".r.findFirstMatchIn(l).map(_.group(1).toLong)).toSet

  /** Partition layout a committed data dir was WRITTEN with, inferred
    * from its Hive-style `k=v` directory tree — every dir's layout is
    * self-describing, which is what PARTITION EVOLUTION rests on: the
    * Iceberg analog is the partition spec recorded per manifest, so a
    * table can carry dirs of several layouts at once and each is read
    * and rewritten under its own. Reported in SPEC vocabulary: a
    * hidden-partitioning `_p_days_ts=…` tree reads back as
    * `days(ts)` ([[Transforms.specOfPhys]]). Empty for unpartitioned
    * dirs. */
  private[graft] def dirLayout(table: String, dataDir: String): Seq[String] =
    physDirLayout(table, dataDir).map(Transforms.specOfPhys)

  /** [[dirLayout]] in PHYSICAL column names (`_p_…` for transforms). */
  private def physDirLayout(table: String, dataDir: String): Seq[String] = {
    def walk(p: Path): Seq[String] =
      fs.listStatus(p).find(s => s.isDirectory && s.getPath.getName.contains("=")) match {
        case Some(s) => s.getPath.getName.takeWhile(_ != '=') +: walk(s.getPath)
        case None => Nil
      }
    val p = new Path(tableDir(table), dataDir)
    if (fs.exists(p)) walk(p) else Nil
  }

  /** Physical layout columns present across a snapshot's data dirs —
    * what [[Transforms.derivedConjuncts]] expands predicate pruning
    * against (metadata-scale directory walks, no data I/O). */
  private def snapshotPhysLayouts(table: String, entries: Seq[String]): Seq[String] =
    entries.map(_.takeWhile(_ != '/')).distinct
      .flatMap(d => physDirLayout(table, d)).distinct

  /** Relative partition-leaf subdirs (k=v[/k=v…]) of a data dir, to
    * `depth` partition levels. */
  private def leafDirs(dataDir: Path, depth: Int): Seq[String] = {
    def walk(p: Path, d: Int): Seq[String] =
      if (d == 0) Seq("")
      else fs.listStatus(p).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .flatMap(s => walk(s.getPath, d - 1).map {
          case "" => s.getPath.getName
          case rest => s"${s.getPath.getName}/$rest"
        })
    walk(dataDir, depth).filter(_.nonEmpty)
  }

  def currentSnapshot(table: String, branch: String = "main"): Option[Long] =
    readLines(currentPtr(table, branch)) match {
      case Seq() => None
      case lines => Some(lines.head.trim.toLong)
    }

  /** Optimistic-concurrency commit (the Nessie-role piece the
    * reference gets from its catalog —
    * mongo_to_iceberg.py:82-85 `NessieCatalog` ref commits).
    *
    * `expectedBase` is the branch snapshot the writer computed its
    * delta against: inside the per-table critical section the branch
    * pointer is re-read, and if another writer advanced it the commit
    * throws [[CommitConflictException]] instead of silently losing
    * that writer's snapshot — callers ([[append]]/[[upsert]]/
    * [[deleteWhere]]) recompute against the new base and retry.
    * `None` = unconditional (create-or-replace: last writer wins by
    * design). A duplicate snap id in the manifest is always a
    * conflict, whatever `expectedBase` says.
    *
    * Scope of the guarantee: in-JVM writers are fully serialized by
    * the table lock (the local/driver deployment); cross-process
    * writers get snap-id collision safety from the atomic
    * [[reserveSnap]] marker files, while the base re-check narrows —
    * but cannot close, on a plain FileSystem — the pointer-swap race.
    * True multi-driver commits need a coordination service; that
    * external role is exactly what Nessie is. */
  private def commit(table: String, snap: Long, dirs: Seq[String], branch: String,
      expectedBase: Option[Option[Long]] = None, batch: Option[Long] = None,
      deletes: Seq[String] = Nil): Long =
    tableLock(table).synchronized {
      expectedBase.foreach { base =>
        val cur = currentSnapshot(table, branch)
        if (cur != base)
          throw new CommitConflictException(
            s"$table@$branch moved $base -> $cur under writer of snapshot $snap")
      }
      val prior = snapshots(table)
      if (prior.exists(_._1 == snap))
        throw new CommitConflictException(s"$table already has a snapshot $snap")
      // Manifest-list summaries (Iceberg's manifest-list partition/
      // column ranges): each data dir this commit INTRODUCES records
      // its dir-level column ranges on the commit line, so plan-time
      // skipping can drop whole dirs before opening their per-file
      // ledgers. Cost is O(new dirs) — one fresh-ledger read per dir
      // just written — keeping the commit-cost-O(delta) invariant.
      val priorTop = prior.iterator.flatMap(_._2).map(_.takeWhile(_ != '/')).toSet
      val newTop = dirs.map(_.takeWhile(_ != '/')).distinct.filterNot(priorTop)
      val sumObjs = newTop.flatMap(d =>
        scala.util.Try(dirStatsJson(table, d)).getOrElse(Nil))
      val meta = s""","ts":${System.currentTimeMillis()}""" +
        batch.map(b => s""","batch":$b""").getOrElse("") +
        (if (deletes.isEmpty) ""
         else s""","deletes":[${deletes.map(d => s""""$d"""").mkString(",")}]""") +
        (if (sumObjs.isEmpty) "" else s""","dirstats":[${sumObjs.mkString(",")}]""")
      val line = s"""{"snap":$snap,"dirs":[${dirs.map(d => s""""$d"""").mkString(",")}]$meta}"""
      appendManifestLine(table, line)
      // Pointer swap last: readers resolve the branch pointer after the
      // manifest and data dirs are durable, so a torn write can't expose
      // a half-written snapshot.
      writeFile(currentPtr(table, branch), snap.toString)
      fs.delete(reserveMarker(table, snap), false)
      snap
    }

  /** Per-table intra-JVM commit lock (keyed by absolute table path, so
    * two Lakehouse handles on the same root serialize together). */
  private def tableLock(table: String): Object =
    Lakehouse.locks.computeIfAbsent(
      new Path(root, table).toString, _ => new Object)

  private def reserveMarker(table: String, snap: Long): Path =
    new Path(tableDir(table), s"_reserve-$snap")

  /** Allocate a snapshot id no concurrent writer can also hold: the
    * marker file is created with overwrite=false — atomic on local FS
    * and HDFS — so even cross-process writers can never write the same
    * `data-<n>` dir. The marker is removed on commit (the manifest
    * line then owns the id) or on abort. */
  private def reserveSnap(table: String): Long = tableLock(table).synchronized {
    fs.mkdirs(tableDir(table))
    var n = nextSnap(table)
    var done = false
    while (!done) {
      try {
        val out = fs.create(reserveMarker(table, n), false)
        out.close()
        done = true
      } catch { case _: java.io.IOException => n += 1 }
    }
    n
  }

  /** Run `body` against the branch's current base snapshot, retrying
    * with a freshly-read base when a concurrent writer wins the
    * commit race. `body` must recompute everything downstream of the
    * base it is handed (that is the optimistic-concurrency contract). */
  private def retryingCommit(table: String, branch: String, attempts: Int = 20)
      (body: Option[Long] => Long): Long = {
    var last: CommitConflictException = null
    var i = 0
    while (i < attempts) {
      val base = currentSnapshot(table, branch)
      try return body(base)
      catch {
        case e: CommitConflictException =>
          last = e; i += 1
          // jittered backoff: N writers fighting for the same branch
          // otherwise re-collide in lockstep
          Thread.sleep(scala.util.Random.nextInt(50 * i + 1).toLong)
      }
    }
    throw last
  }

  /** Drop an aborted writer's data dir + reservation marker. */
  private def abortSnap(table: String, snap: Long, dir: String): Unit = {
    fs.delete(new Path(tableDir(table), dir), true)
    fs.delete(reserveMarker(table, snap), false)
  }

  /** Create (or reset) a branch pointing at a snapshot — snapshots are
    * immutable and shared, so branching is a one-file write. */
  def createBranch(table: String, branch: String, fromSnap: Long): Unit = {
    require(snapshots(table).exists(_._1 == fromSnap), s"$table has no snapshot $fromSnap")
    writeFile(currentPtr(table, branch), fromSnap.toString)
  }

  /** Roll a branch back to an earlier snapshot (the Iceberg
    * `rollback_to_snapshot` analog): snapshots are immutable, so
    * undoing a bad write is one pointer move — the rolled-past
    * snapshots stay in history until [[expireSnapshots]]. */
  def rollback(table: String, snap: Long, branch: String = "main"): Unit =
    tableLock(table).synchronized {
      require(snapshots(table).exists(_._1 == snap), s"$table has no snapshot $snap")
      writeFile(currentPtr(table, branch), snap.toString)
    }

  /** Table history as a DataFrame (the `DESCRIBE HISTORY` analog):
    * one row per committed snapshot with its entry count, whether it
    * is any branch's current snapshot, and the streaming batch id in
    * its commit metadata (null if none). */
  def history(table: String): DataFrame = {
    val heads = branches(table)
      .flatMap(b => currentSnapshot(table, b).map(_ -> b))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.mkString(",")).toMap
    val batchBySnap = manifestLines(table).flatMap { l =>
      for {
        s <- """"snap":(\d+)""".r.findFirstMatchIn(l).map(_.group(1).toLong)
        b <- """"batch":(-?\d+)""".r.findFirstMatchIn(l).map(_.group(1).toLong)
      } yield s -> b
    }.toMap
    val delsBySnap = snapshotDeletes(table)
    val rows = snapshots(table).map { case (snap, dirs) =>
      (snap, dirs.length.toLong, heads.getOrElse(snap, ""),
        batchBySnap.get(snap).map(_.toString).getOrElse(""),
        delsBySnap.getOrElse(snap, Seq.empty).length.toLong)
    }
    spark.createDataFrame(rows)
      .toDF("snapshot_id", "n_entries", "current_of", "stream_batch", "n_delete_files")
  }

  /** `t.snapshots` metadata relation: one row per snapshot with its
    * commit wall-clock and entry/tombstone counts. */
  def snapshotsDf(table: String): DataFrame = {
    val times = snapshotTimes(table).toMap
    val dels = snapshotDeletes(table)
    val rows = snapshots(table).map { case (snap, dirs) =>
      (snap,
        times.get(snap).map(t => new java.sql.Timestamp(t)).orNull,
        dirs.length.toLong,
        dels.getOrElse(snap, Seq.empty).length.toLong)
    }
    spark.createDataFrame(rows)
      .toDF("snapshot_id", "committed_at", "n_entries", "n_delete_files")
  }

  /** `t.files` metadata relation: the parquet files composing the
    * CURRENT snapshot, with their manifest entry and size — the
    * planning-visibility readout (file skew, small-file pressure)
    * Iceberg exposes as its files table. Pure metadata I/O. */
  def filesDf(table: String, branch: String = "main"): DataFrame = {
    val snap = currentSnapshot(table, branch)
      .getOrElse(throw new IllegalArgumentException(s"no such table/branch: $table@$branch"))
    val entries = snapshots(table).find(_._1 == snap).get._2
    def walk(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) Seq(st)
        else Seq.empty
      }
    val rows = entries.flatMap { e =>
      walk(new Path(tableDir(table), e)).map { st =>
        val full = st.getPath.toString
        val marker = "/" + table + "/"
        (e, full.substring(full.lastIndexOf(marker) + marker.length), st.getLen)
      }
    }
    spark.createDataFrame(rows).toDF("entry", "file", "bytes")
  }

  /** `t.tags` metadata relation. */
  def tagsDf(table: String): DataFrame =
    spark.createDataFrame(tags(table)).toDF("tag", "snapshot_id")

  /** `t.refs` metadata relation (the Iceberg refs table): every named
    * ref — branches AND tags — with its type and pinned snapshot, the
    * one-stop readout of a table's pointer topology (what `VERSION AS
    * OF '<ref>'` can address, what expiry must respect). */
  def refsDf(table: String): DataFrame = {
    val rows =
      branches(table).flatMap(b =>
        currentSnapshot(table, b).map(s => (b, "BRANCH", s))) ++
        tags(table).map { case (t, s) => (t, "TAG", s) }
    spark.createDataFrame(rows).toDF("name", "type", "snapshot_id")
  }

  /** `t.partitions` metadata relation (the Iceberg partitions table):
    * one row per (layout, partition value) of the CURRENT snapshot
    * with file/record/byte counts — the partition-skew and
    * small-files readout that decides whether to compact, re-spec, or
    * salt. Partition keys report in SPEC vocabulary (`days(ts)=19723`,
    * not `_p_days_ts=…`); record counts come from the parquet footers
    * (pure metadata I/O, no row scanned); a table carrying several
    * evolved layouts reports each leaf under its own. Unpartitioned
    * entries report an empty partition key. */
  def partitionsDf(table: String, branch: String = "main"): DataFrame = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val snap = currentSnapshot(table, branch)
      .getOrElse(throw new IllegalArgumentException(s"no such table/branch: $table@$branch"))
    val entries = snapshots(table).find(_._1 == snap).get._2
    val conf = spark.sparkContext.hadoopConfiguration
    val statuses = entries.flatMap { e =>
      val dataDir = e.takeWhile(_ != '/')
      dataFiles(new Path(tableDir(table), e)).map(st => (dataDir, st))
    }.distinctBy(_._2.getPath.toString) // a leaf under several entries counts once
    val perFile = Lakehouse.parallelMeta(statuses) { case (dataDir, st) =>
      val full = st.getPath.toString
      val marker = "/" + dataDir + "/"
      val rel = full.substring(full.indexOf(marker) + 1)
      val partKey = rel.split("/").dropRight(1).filter(_.contains("=")).map { seg =>
        val Array(k, v) = seg.split("=", 2)
        s"${Transforms.specOfPhys(k)}=${
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(v)}"
      }.mkString("/")
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
      val nRows =
        try reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        finally reader.close()
      Seq((partKey, nRows, st.getLen))
    }
    val rows = perFile.groupBy(_._1).toSeq.sortBy(_._1).map { case (part, fs) =>
      (part, fs.length.toLong, fs.map(_._2).sum, fs.map(_._3).sum)
    }
    spark.createDataFrame(rows)
      .toDF("partition", "file_count", "record_count", "bytes")
  }

  /** `t.partition_stats` metadata relation — per-(partition, column)
    * VALUE RANGES of the current snapshot, aggregated from the
    * per-file `_stats.jsonl` ledgers (pure metadata I/O, no data
    * scanned): the readout that tells an operator whether a layout
    * still matches the data — a partition whose range spans the whole
    * domain wants a re-sort/Z-order; overlapping ranges across
    * partitions mean range-distribution writes stopped helping; a
    * `days(ts)` leaf whose ts range leaks outside its day signals
    * clock skew. `n_files` vs `files_with_stats` shows coverage (a
    * column only prunes when every file records it — the
    * [[dirStatsJson]] rule, restated per partition). Bounds report as
    * the written ledger strings, bit-identical to what pruning
    * consults. */
  def partitionStatsDf(table: String, branch: String = "main"): DataFrame = {
    val snap = currentSnapshot(table, branch)
      .getOrElse(throw new IllegalArgumentException(s"no such table/branch: $table@$branch"))
    val entries = snapshots(table).find(_._1 == snap).get._2
    val byDir = entries.groupBy(_.takeWhile(_ != '/'))
    val perFile: Seq[(String, String, String, String, String, String)] =
      byDir.toSeq.sortBy(_._1).flatMap { case (dataDir, es) =>
        val wholeDir = es.contains(dataDir)
        readStats(table, dataDir)
          // leaf-scoped entries (partition-scoped upserts) own only
          // their subtree's files
          .filter { case (file, _, _, _, _) =>
            wholeDir || es.exists(e => file.startsWith(e + "/"))
          }
          .map { case (file, c, t, lo, hi) =>
            val partKey = file.split("/").drop(1).dropRight(1)
              .filter(_.contains("=")).map { seg =>
                val Array(k, v) = seg.split("=", 2)
                s"${Transforms.specOfPhys(k)}=${
                  org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(v)}"
              }.mkString("/")
            (partKey, c, t, file, lo, hi)
          }
      }
    def ord(t: String)(v: String): BigDecimal =
      if (t == "string") BigDecimal(0) else scala.util.Try(BigDecimal(v)).getOrElse(BigDecimal(0))
    val rows = perFile.groupBy { case (p, c, t, _, _, _) => (p, c, t) }.toSeq
      .sortBy { case ((p, c, _), _) => (p, c) }
      .map { case ((p, c, t), fs) =>
        val lo =
          if (t == "string") fs.map(_._5).min else fs.map(_._5).minBy(ord(t))
        val hi =
          if (t == "string") fs.map(_._6).max else fs.map(_._6).maxBy(ord(t))
        (p, c, t, lo, hi, fs.map(_._4).distinct.length.toLong)
      }
    spark.createDataFrame(rows)
      .toDF("partition", "col", "col_type", "lo", "hi", "files_with_stats")
  }

  /** DROP TABLE: unregister the temp view, the DML routing, and the
    * persistent catalog line; `purge` also deletes the table
    * directory (snapshots, branches, tombstones — everything).
    * Without purge the immutable data stays on disk and the table can
    * be re-attached with [[registerView]] — Iceberg's external-table
    * drop semantics. */
  def dropTable(table: String, purge: Boolean = false): Unit = {
    scala.util.Try(spark.catalog.dropTempView(table))
    LakehouseRegistry.unregister(spark, table)
    Lakehouse.locks.computeIfAbsent(catalogPath.toString, _ => new Object).synchronized {
      val kept = readLines(catalogPath).filterNot {
        case CatalogLine(t, _) => unesc(t) == table
        case _ => false
      }
      if (kept.isEmpty) fs.delete(catalogPath, false)
      else writeFile(catalogPath, kept.mkString("\n") + "\n")
      Lakehouse.catalogEpoch.incrementAndGet()
    }
    if (purge) fs.delete(tableDir(table), true)
  }

  /** `ALTER TABLE t RENAME TO u` — a pure metadata move: the table
    * directory renames (every ledger inside is path-relative, so
    * manifests, schemas, tombstones, branches and tags all move with
    * it) and the persistent catalog line re-keys under the new name.
    * Session temp views / DML routes of the old name unregister (a
    * stale view over a moved path would error confusingly); re-attach
    * with [[registerView]] under the new name, or read through a DSv2
    * catalog which resolves names per statement. */
  def renameTable(from: String, to: String): Unit = {
    // lock BOTH names (in name order, so two concurrent renames can't
    // deadlock) — `to` must be held too or a concurrent CREATE of
    // that name races the existence check below
    val (lo, hi) = if (from <= to) (from, to) else (to, from)
    tableLock(lo).synchronized { tableLock(hi).synchronized {
      require(tableNames().contains(from), s"no such table: $from")
      require(!tableNames().contains(to),
        s"cannot rename $from to $to: $to already exists")
      // crash-recovery order: (1) ADD a catalog line for `to` while
      // keeping `from`'s, (2) rename the dir, (3) drop `from`'s line.
      // A crash at any point leaves the LIVE directory with its
      // partition spec intact; the worst residue is one orphan line
      // for a name with no directory, which catalogEntries readers
      // ignore (no dir → not in tableNames) and a later CREATE of
      // that name upserts over.
      val catLock =
        Lakehouse.locks.computeIfAbsent(catalogPath.toString, _ => new Object)
      val fromCols: Option[String] = catLock.synchronized {
        val existing = readLines(catalogPath)
        val cols = existing.collectFirst {
          case CatalogLine(t, cols) if unesc(t) == from => cols
        }
        // ALWAYS retract a pre-existing line for `to` (orphan residue
        // of a crashed prior rename) — even when `from` carries no
        // line of its own, or the renamed unpartitioned table would
        // silently inherit the orphan's partitionBy
        val retracted = existing.filterNot {
          case CatalogLine(t, _) => unesc(t) == to
          case _ => false
        }
        val next = retracted ++
          cols.map(c => s"""{"table":"${jsonEsc(to)}","partitionBy":[$c]}""")
        if (next != existing) {
          if (next.isEmpty) fs.delete(catalogPath, false)
          else writeFile(catalogPath, next.mkString("\n") + "\n")
          Lakehouse.catalogEpoch.incrementAndGet()
        }
        cols
      }
      try {
        require(fs.rename(tableDir(from), tableDir(to)),
          s"filesystem refused renaming $from to $to")
      } catch {
        case e: Throwable =>
          // dir rename failed: retract `to`'s provisional line so the
          // catalog matches the unmoved filesystem
          if (fromCols.nonEmpty) catLock.synchronized {
            val kept = readLines(catalogPath).filterNot {
              case CatalogLine(t, _) => unesc(t) == to
              case _ => false
            }
            if (kept.isEmpty) fs.delete(catalogPath, false)
            else writeFile(catalogPath, kept.mkString("\n") + "\n")
            Lakehouse.catalogEpoch.incrementAndGet()
          }
          throw e
      }
      scala.util.Try(spark.catalog.dropTempView(from))
      LakehouseRegistry.unregister(spark, from)
      catLock.synchronized {
        val kept = readLines(catalogPath).filterNot {
          case CatalogLine(t, _) => unesc(t) == from
          case _ => false
        }
        if (kept.isEmpty) fs.delete(catalogPath, false)
        else writeFile(catalogPath, kept.mkString("\n") + "\n")
        Lakehouse.catalogEpoch.incrementAndGet()
      }
    } }
  }

  def branches(table: String): Seq[String] = {
    val names = fs.listStatus(tableDir(table)).toSeq.map(_.getPath.getName)
    (if (names.contains("_current")) Seq("main") else Seq.empty) ++
      names.filter(n => n.startsWith("_branch_") && !n.endsWith(".tmp"))
        .map(_.stripPrefix("_branch_")).sorted
  }

  /** Drop a branch pointer — the snapshots it referenced stay in
    * history (expiry collects any that end up unreferenced). `main`
    * is not droppable: it is the table's existence pointer. */
  def dropBranch(table: String, branch: String): Unit = {
    require(branch != "main", s"cannot drop main: it is $table's table pointer")
    require(branches(table).contains(branch), s"$table has no branch $branch")
    fs.delete(currentPtr(table, branch), false)
  }

  /** Fast-forward `into` to `from`'s snapshot (both share the same
    * immutable history, so a merge is a pointer move). */
  def mergeBranch(table: String, from: String, into: String = "main"): Long = {
    val snap = currentSnapshot(table, from)
      .getOrElse(throw new IllegalArgumentException(s"$table has no branch $from"))
    writeFile(currentPtr(table, into), snap.toString)
    snap
  }

  private def nextSnap(table: String): Long =
    snapshots(table).map(_._1).foldLeft(0L)(math.max) + 1

  /** Lakehouse data dirs write INT64-micros timestamps (not legacy
    * INT96): smaller, predicate-pushdown-able, and — the point — the
    * parquet footer min/max become usable, so [[writeStats]] can
    * record timestamp bounds and time-range scans skip at FILE
    * granularity. Scoped to table writes only (a session-wide setting
    * would annotate query-RESULT dumps as UTC-instant and change how
    * external readers see them). Restore is try/finally; a concurrent
    * writer that races the window merely writes INT96 (no ts stats
    * for that dir — conservative, never wrong). */
  private def withMicrosTimestamps[T](body: => T): T = {
    // REENTRANT per session (depth-counted): two concurrent writers
    // previously raced the restore — the second could capture MICROS
    // as its "previous" value and leave it set session-wide forever,
    // silently re-annotating later query-RESULT dumps. The outermost
    // scope alone captures and restores.
    val key = "spark.sql.parquet.outputTimestampType"
    Lakehouse.microsScopes.synchronized {
      val (depth, prev) = Lakehouse.microsScopes.getOrElse(spark, (0, ""))
      if (depth == 0) {
        val p = spark.conf.get(key)
        spark.conf.set(key, "TIMESTAMP_MICROS")
        Lakehouse.microsScopes.update(spark, (1, p))
      } else Lakehouse.microsScopes.update(spark, (depth + 1, prev))
    }
    try body finally Lakehouse.microsScopes.synchronized {
      val (depth, prev) = Lakehouse.microsScopes(spark)
      if (depth == 1) {
        spark.conf.set(key, prev)
        Lakehouse.microsScopes.remove(spark)
      } else Lakehouse.microsScopes.update(spark, (depth - 1, prev))
    }
  }

  private def writeDataDir(df: DataFrame, table: String, dir: String,
      partitionBy: Seq[String]): Unit = {
    // hidden partitioning: materialize transform columns (`_p_…`) for
    // the write only — readers drop them ([[openDirGroup]]), so the
    // user schema never sees the layout. The prefix is RESERVED: a
    // user column named `_p_…` would be silently dropped on read —
    // refuse it loudly instead.
    val clash = df.columns.filter(_.startsWith("_p_"))
    require(clash.isEmpty,
      s"column names starting with '_p_' are reserved for hidden partition " +
        s"layouts: ${clash.mkString(", ")}")
    val ts = Transforms.canon(partitionBy).map(Transforms.parse)
    val derived = Transforms.withDerived(df, ts)
    // `spark.graft.write-distribution` (Iceberg's
    // write.distribution-mode): `hash` clusters rows by partition
    // value before a partitioned write, so each leaf receives O(1)
    // files instead of one per upstream task — with T tasks × P
    // touched partitions the undistributed write emits T×P small
    // files, the classic 100 TB small-files explosion. The cost is
    // one shuffle per write and potential hot-partition skew (AQE
    // rebalances at runtime); `none` (default) keeps writes
    // shuffle-free, the right trade for small or already-clustered
    // deltas.
    // declared WRITE SORT ORDER (Iceberg's write.sort-order,
    // [[declareSortOrder]]): with range distribution, fresh writes
    // land key-clustered — each file covers a narrow disjoint slice,
    // so the min/max ledger is born selective and no compaction pass
    // is ever needed to make point/range predicates prune
    val sortCols = sortOrderOf(table).filter(derived.columns.contains)
    val physDf0 = spark.conf.get("spark.graft.write-distribution", "none") match {
      // EXPLICIT partition count (session shuffle partitions): an
      // N-less repartition-by-col is an AQE-coalescible exchange, and
      // byte-based coalescing folds a many-LEAF write back into one
      // task (measured: a 236-leaf daily write re-serialized to a
      // single 3.8 s task at 1 MB input) — leaf-WRITER count, not
      // bytes, is the cost AQE can't see. The explicit N pins the
      // parallelism; rows still hash by partition value, so each leaf
      // receives exactly one file either way.
      case "hash" if ts.nonEmpty => derived.repartition(
        spark.sessionState.conf.numShufflePartitions,
        ts.map(t => derived(t.phys)): _*)
      // `range`: global sort by the partition values — one file per
      // leaf like hash, PLUS adjacent leaves land in adjacent tasks,
      // so the declared sort key and the min/max ledger get tight
      // non-overlapping bounds (Iceberg's write.distribution-mode=range)
      case "range" if ts.nonEmpty =>
        derived.repartitionByRange(
          (ts.map(t => derived(t.phys)) ++ sortCols.map(derived(_))): _*)
      case "range" if sortCols.nonEmpty =>
        derived.repartitionByRange(sortCols.map(derived(_)): _*)
      case "none" | "hash" | "range" => derived
      case other => throw new IllegalArgumentException(
        s"spark.graft.write-distribution must be none, hash, or range; got: $other")
    }
    val physDf =
      if (sortCols.isEmpty) physDf0
      else physDf0.sortWithinPartitions(
        (ts.map(_.phys) ++ sortCols).map(physDf0(_)): _*)
    // FUSED sums collection (guide §1.2/§1.4): when this table declares
    // sum columns, observe per-(task, leaf) exact sums IN the write
    // pass — the old second pass re-read every fresh file just to sum
    // columns the write job had already streamed. [[writeFusedSums]]
    // verifies the file↔key mapping after the write and falls back to
    // the scan pass on any mismatch, so the ledger can never be wrong.
    val declaredSumCols = {
      val declared = sumDeclared(table)
      physDf.schema.fields.toSeq
        .filter(f => declared.contains(f.name))
        .filter(f => sumScale(f.dataType).isDefined)
        .map(_.name)
    }
    val sumsObs =
      if (declaredSumCols.nonEmpty &&
        ts.forall(t => WriteSumsFusion.pathRenderable(physDf.schema(t.phys).dataType)))
        Some(new org.apache.spark.sql.Observation())
      else None
    val writeDf = sumsObs match {
      case Some(o) =>
        val key = WriteSumsFusion.keyCol(ts.map(t => physDf(t.phys)))
        val aggs = declaredSumCols.map(c =>
          WriteSumsFusion.sumAgg(key, physDf(c)).as(c))
        physDf.observe(o, aggs.head, aggs.tail: _*)
      case None => physDf
    }
    withMicrosTimestamps {
      val w0 = writeDf.write.mode(SaveMode.Overwrite)
      // NATIVE parquet bloom filters for declared columns
      // ([[declareBloomColumns]]): parquet-mr writes the filter into
      // the file itself during the data pass — zero extra scans,
      // unlike the post-hoc `_bloom.jsonl` ledger build — and
      // [[matchingFiles]] consults the footers at skip time. Bounded
      // ndv keeps each filter ~100 KB.
      val present = physDf.columns.toSet
      val w = bloomDeclared(table).filter(present).foldLeft(w0) { (wr, c) =>
        wr.option(s"parquet.bloom.filter.enabled#$c", "true")
          .option(s"parquet.bloom.filter.expected.ndv#$c", "100000")
      }
      (if (ts.nonEmpty) w.partitionBy(ts.map(_.phys): _*) else w)
        .parquet(new Path(tableDir(table), dir).toString)
    }
    writeStats(table, dir, physDf.schema)
    val fused = sumsObs.exists(o =>
      writeFusedSums(table, dir, ts.map(_.phys), declaredSumCols, o))
    if (!fused) writeSums(table, dir, physDf.schema)
    // per-dir SORT MARKER: records that every file in this dir was
    // written row-sorted by this chain (sortWithinPartitions above).
    // Downstream provers (the DSv2 ordering claim) require the marker
    // on EVERY dir — dirs written before the order was declared simply
    // lack it and conservatively claim nothing.
    if (sortCols.nonEmpty)
      writeFile(new Path(new Path(tableDir(table), dir), "_sortorder.json"),
        sortCols.mkString(","))
  }

  /** The sort chain dir `dataDir`'s files were written under, [] when
    * none was declared at write time ([[writeDataDir]]'s marker). */
  private[graft] def dirSortChain(table: String, dataDir: String): Seq[String] =
    readLines(new Path(new Path(tableDir(table), dataDir), "_sortorder.json"))
      .headOption.map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)

  /** Create-or-replace: write a fresh data dir, commit a snapshot
    * containing ONLY it. Old snapshots stay readable (time travel).
    * Unconditional (no base expectation): REPLACE is last-writer-wins
    * by definition, but the reserved snap id still guarantees no two
    * writers ever share a data dir. */
  def createOrReplace(df: DataFrame, table: String, partitionBy: Seq[String] = Nil,
      branch: String = "main"): Long = {
    val snap = reserveSnap(table)
    val dir = s"data-$snap"
    try {
      writeDataDir(df, table, dir, partitionBy)
      commit(table, snap, Seq(dir), branch)
    } catch { case e: Throwable => abortSnap(table, snap, dir); throw e }
  }

  /** Append: write ONLY the delta as a new data dir; the new snapshot
    * is the branch's previous dirs + delta. No data is rewritten, and
    * a concurrent writer's commit triggers recompute-and-retry rather
    * than a lost snapshot (see [[commit]]). */
  def append(df: DataFrame, table: String, partitionBy: Seq[String] = Nil,
      branch: String = "main"): Long = retryingCommit(table, branch) { base =>
    val prev = base.map(c => snapshots(table).find(_._1 == c).get._2).getOrElse(Seq.empty)
    val prevDeletes = base.map(c => snapshotDeletes(table).getOrElse(c, Seq.empty)).getOrElse(Nil)
    val snap = reserveSnap(table)
    val dir = s"data-$snap"
    try {
      writeDataDir(df, table, dir, partitionBy)
      // carried tombstones never touch this append's rows: data-snap's
      // sequence is above every carried tombstone's
      commit(table, snap, prev :+ dir, branch, Some(base), deletes = prevDeletes)
    } catch { case e: Throwable => abortSnap(table, snap, dir); throw e }
  }

  /** Append N DISJOINT slices of one relation as N SEPARATE snapshots
    * in ONE distributed pass (guide §1.2: the N-append ingest shape
    * re-scans the source N times for rows one pass already saw, and
    * serializes N write jobs where one suffices). `sliceCol` must
    * evaluate to an int in [0, nSlices): the pass writes each slice's
    * file(s) under a scratch layout partitioned by the tag
    * (hash-clustered so each slice lands as ONE file — the same
    * one-stats-unit shape as `repartition(1)` per append), then each
    * slice's files MOVE (rename, metadata-only) into their own
    * reserved data dir and commit in slice order — so manifests,
    * stats/rowcount/schema ledgers and file-skipping behavior are
    * exactly what N ordinary appends of `df.where(tag = i)` produce,
    * for one scan instead of N. `replaceFirst` commits slice 0 as a
    * REPLACE (the createOrReplace-then-append ingest shape). A row
    * whose tag falls outside [0, nSlices) — including a NULL tag —
    * fails the whole call loudly BEFORE any commit: silent row loss
    * is impossible. Declared write sort orders apply within each
    * slice file (same marker contract as [[writeDataDir]]); hidden
    * partition layouts keep the ordinary per-append path. */
  def appendSlices(df: DataFrame, sliceCol: org.apache.spark.sql.Column,
      nSlices: Int, table: String, replaceFirst: Boolean = false,
      branch: String = "main"): Seq[Long] = {
    require(nSlices > 0, s"appendSlices needs a positive slice count: $nSlices")
    val clash = df.columns.filter(c => c.startsWith("_p_") || c == "__slice")
    require(clash.isEmpty,
      s"column names reserved for the write layout: ${clash.mkString(", ")}")
    fs.mkdirs(tableDir(table))
    val tmp = new Path(tableDir(table), s"_slices-${java.util.UUID.randomUUID()}")
    try {
      val tagged = df.withColumn("__slice", sliceCol.cast("int"))
        // hash-cluster by the tag: every slice's rows land in exactly
        // one task, so each slice dir receives exactly ONE file (a
        // collision just co-locates two slices in one task)
        .repartition(nSlices, org.apache.spark.sql.functions.col("__slice"))
      val sortCols = sortOrderOf(table).filter(df.columns.contains)
      val physDf =
        if (sortCols.isEmpty) tagged
        else tagged.sortWithinPartitions(
          (Seq("__slice") ++ sortCols).map(tagged(_)): _*)
      withMicrosTimestamps {
        val w0 = physDf.write.mode(SaveMode.Overwrite)
        val present = physDf.columns.toSet
        val w = bloomDeclared(table).filter(present).foldLeft(w0) { (wr, c) =>
          wr.option(s"parquet.bloom.filter.enabled#$c", "true")
            .option(s"parquet.bloom.filter.expected.ndv#$c", "100000")
        }
        w.partitionBy("__slice").parquet(tmp.toString)
      }
      // loud completeness check BEFORE any commit: an out-of-range or
      // null tag writes a leaf outside the expected set and the whole
      // call refuses — rows can never vanish silently
      // only DIRECTORIES can carry rows ( _SUCCESS / .crc side files
      // are write-protocol noise); any unexpected leaf dir = lost rows
      val leaves = fs.listStatus(tmp).filter(_.isDirectory)
        .map(_.getPath.getName)
      val expect = (0 until nSlices).map(i => s"__slice=$i").toSet
      val foreign = leaves.filterNot(expect.contains)
      require(foreign.isEmpty,
        s"appendSlices: rows tagged outside [0, $nSlices): ${foreign.mkString(", ")}")
      (0 until nSlices).map { i =>
        val src = new Path(tmp, s"__slice=$i")
        def moveInto(dst: Path): Unit = {
          fs.mkdirs(dst)
          if (fs.exists(src)) fs.listStatus(src).toSeq.filter(_.isFile)
            .filter(_.getPath.getName.endsWith(".parquet"))
            .foreach(s => fs.rename(s.getPath, new Path(dst, s.getPath.getName)))
        }
        def moveBack(dst: Path): Unit = {
          fs.mkdirs(src)
          if (fs.exists(dst)) fs.listStatus(dst).toSeq.filter(_.isFile)
            .filter(_.getPath.getName.endsWith(".parquet"))
            .foreach(s => fs.rename(s.getPath, new Path(src, s.getPath.getName)))
        }
        def commitOne(base: Option[Long]): Long = {
          val prev = base.map(c => snapshots(table).find(_._1 == c).get._2)
            .getOrElse(Seq.empty)
          val prevDeletes = base.map(c =>
            snapshotDeletes(table).getOrElse(c, Seq.empty)).getOrElse(Nil)
          val snap = reserveSnap(table)
          val dir = s"data-$snap"
          val dst = new Path(tableDir(table), dir)
          try {
            moveInto(dst)
            writeStats(table, dir, df.schema)
            writeSums(table, dir, df.schema)
            if (sortCols.nonEmpty)
              writeFile(new Path(dst, "_sortorder.json"), sortCols.mkString(","))
            if (replaceFirst && i == 0) commit(table, snap, Seq(dir), branch)
            else commit(table, snap, prev :+ dir, branch, Some(base),
              deletes = prevDeletes)
          } catch { case e: Throwable =>
            // a commit conflict retries the whole closure: the files
            // must ride back to the scratch slice dir first, or the
            // retry would commit an empty dir
            moveBack(dst)
            abortSnap(table, snap, dir)
            throw e
          }
        }
        if (replaceFirst && i == 0) commitOne(None) // REPLACE: unconditional
        else retryingCommit(table, branch)(commitOne)
      }
    } finally { fs.delete(tmp, true); () }
  }

  /** MERGE-ON-READ delete (the Iceberg v2 equality-delete-file shape):
    * write the distinct key rows as a `_deletes-<snap>` tombstone next
    * to the data and commit a snapshot referencing the SAME data
    * entries plus the tombstone — zero data files are rewritten, so a
    * point delete in a hot partition costs O(deleted keys), not a
    * partition rewrite. Readers anti-join tombstones against data dirs
    * of LOWER sequence only, so a later append may re-insert a deleted
    * key; [[compact]] materializes tombstones away. The copy-on-write
    * [[deleteWhere]]/[[deleteByKey]] remain the read-optimized path.
    * NULL key values match NULL data values (null-safe `<=>` at read —
    * Iceberg equality-delete semantics). */
  def deleteByKeyMor(keys: DataFrame, table: String, branch: String = "main"): Long =
    retryingCommit(table, branch) { base =>
      val prev = base.map(c => snapshots(table).find(_._1 == c).get._2)
        .getOrElse(throw new IllegalArgumentException(s"no such table: $table"))
      val prevDeletes = base.map(c => snapshotDeletes(table).getOrElse(c, Seq.empty)).getOrElse(Nil)
      val snap = reserveSnap(table)
      val dir = s"_deletes-$snap"
      try {
        keys.distinct().write.mode(SaveMode.Overwrite)
          .parquet(new Path(tableDir(table), dir).toString)
        commit(table, snap, prev, branch, Some(base), deletes = prevDeletes :+ dir)
      } catch { case e: Throwable => abortSnap(table, snap, dir); throw e }
    }

  /** `CALL system.rewrite_position_deletes(t)` — materialize the
    * current snapshot's LIVE EQUALITY tombstones into ONE positional
    * tombstone, rewriting ZERO data files (Iceberg's
    * rewrite_position_delete_files posture: equality deletes are
    * cheap to write but expensive to carry — every read probes every
    * row — and they BLOCK schema changes of their key columns).
    * For each equality tombstone, the rows it currently deletes
    * (null-safe key match against every LOWER-sequence data dir, the
    * exact read-time semantics) are recorded as `(file, position)`
    * pairs; one new snapshot carries every data entry by reference
    * with the equality dirs replaced by the positional dir. After it:
    * `DROP COLUMN` / cross-domain type changes of former key columns
    * land (positions are name-free), reads stop paying the per-row
    * key probe, and the SPJ broadcast gate stops seeing unbounded key
    * sets — all WITHOUT compaction's full data rewrite. Cost: one
    * filtered scan of the lower-sequence dirs per equality tombstone
    * (matched-row-sized output); the superseded tombstone dirs stay
    * on disk for time travel until expiry collects them. */
  def rewritePositionDeletes(table: String, branch: String = "main"): Long =
    retryingCommit(table, branch) { base =>
      import org.apache.spark.sql.functions.{broadcast, col}
      val snap0 = base.getOrElse(
        throw new IllegalArgumentException(s"no such table: $table"))
      val entries = snapshots(table).find(_._1 == snap0).get._2
      val dels = snapshotDeletes(table).getOrElse(snap0, Seq.empty)
      val eqDirs = dels.filter { d =>
        readTombstoneDir(table, d).columns.toSeq != Seq("__file", "__pos")
      }
      if (eqDirs.isEmpty) snap0 // nothing equality-shaped: no-op
      else {
        val eqSet = eqDirs.toSet
        val mapped = tombstones(table, snap0)
          .filter { case (seq, _) => eqSet.contains(s"_deletes-$seq") }
        val byDataDir = entries.groupBy(_.takeWhile(_ != '/')).toSeq.sortBy(_._1)
        // per tombstone: the rows it deletes NOW = null-safe key
        // semi-join against each lower-sequence dir (applyTombstones
        // with the join flipped to semi, positions from `_metadata`)
        val hits = mapped.flatMap { case (seq, keys) =>
          val kcols = keys.columns.toSeq
          // `keys` arrives gate-hinted from [[tombstones]] — big equality
          // payloads (this procedure's very use case) must not force a broadcast
          val ts = keys.toDF(kcols.map("__ts_" + _): _*)
          byDataDir.filter(_._1.stripPrefix("data-").toLong < seq)
            .map { case (dataDir, dirEntries) =>
              val df = openDirGroup(table, dataDir,
                if (dirEntries.contains(dataDir)) Seq(dataDir) else dirEntries,
                Some(snap0))
              val cond = kcols.map(c => df(c) <=> ts("__ts_" + c)).reduce(_ && _)
              df.join(ts, cond, "left_semi")
                .select(col("_metadata.file_path").as("__file"),
                  col("_metadata.row_index").as("__pos"))
            }
        }
        val snap = reserveSnap(table)
        val dir = s"_deletes-$snap"
        try {
          // BOUNDED plan width (r15): the semi-join branches number
          // |equality tombstones| × |lower-sequence dirs| — a
          // pathological many-tombstone table would otherwise plan one
          // very wide union. Write the positions dir in GROUPS of at
          // most [[Lakehouse.RewriteUnionBranches]] branches (first
          // group overwrites, the rest append — the dir is invisible
          // until the commit below references it), so plan size stays
          // constant however many tombstones convert.
          val dirPath = new Path(tableDir(table), dir).toString
          val groups = hits.grouped(Lakehouse.RewriteUnionBranches).toSeq
          if (groups.isEmpty)
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("__file",
                  org.apache.spark.sql.types.StringType, nullable = false),
                org.apache.spark.sql.types.StructField("__pos",
                  org.apache.spark.sql.types.LongType, nullable = false))))
              .write.mode(SaveMode.Overwrite).parquet(dirPath)
          else groups.zipWithIndex.foreach { case (g, i) =>
            g.reduce(_.unionByName(_)).write
              .mode(if (i == 0) SaveMode.Overwrite else SaveMode.Append)
              .parquet(dirPath)
          }
          commit(table, snap, entries, branch, Some(base),
            deletes = dels.filterNot(eqSet) :+ dir)
        } catch { case e: Throwable => abortSnap(table, snap, dir); throw e }
      }
    }

  /** Idempotent FULL REPLACE keyed by a batch id — [[appendOnce]]'s
    * replace-shaped sibling: the new snapshot references ONLY the
    * freshly written dir, and a replay of the same `batchId` commits
    * nothing. The exactly-once primitive for full-refresh sinks
    * (e.g. [[MaterializedView]]'s recompute fallback), where a crash
    * between "view rewritten" and "caller notices" must not apply
    * the rewrite twice under a moved source. */
  def replaceOnce(df: DataFrame, table: String, batchId: Long,
      partitionBy: Seq[String] = Nil, branch: String = "main"): Long =
    retryingCommit(table, branch) { base =>
      if (committedBatches(table).contains(batchId)) base.getOrElse(-1L)
      else {
        val snap = reserveSnap(table)
        val dir = s"data-$snap"
        try {
          writeDataDir(df, table, dir, partitionBy)
          commit(table, snap, Seq(dir), branch, Some(base), batch = Some(batchId))
        } catch { case e: Throwable => abortSnap(table, snap, dir); throw e }
      }
    }

  /** Idempotent append keyed by a streaming micro-batch id, recorded
    * in the commit metadata — the Iceberg-writer property that makes
    * `foreachBatch` restarts exactly-once: a replayed batch finds its
    * id in the manifest and commits nothing. Safe under concurrency:
    * a same-batch race loses the conditional commit, retries, and then
    * sees the winner's batch id in the ledger. */
  def appendOnce(df: DataFrame, table: String, batchId: Long,
      partitionBy: Seq[String] = Nil, branch: String = "main"): Long =
    retryingCommit(table, branch) { base =>
      if (committedBatches(table).contains(batchId)) base.getOrElse(-1L)
      else {
        val prev = base.map(c => snapshots(table).find(_._1 == c).get._2).getOrElse(Seq.empty)
        val prevDeletes =
          base.map(c => snapshotDeletes(table).getOrElse(c, Seq.empty)).getOrElse(Nil)
        val snap = reserveSnap(table)
        val dir = s"data-$snap"
        try {
          writeDataDir(df, table, dir, partitionBy)
          commit(table, snap, prev :+ dir, branch, Some(base), batch = Some(batchId),
            deletes = prevDeletes)
        } catch { case e: Throwable => abortSnap(table, snap, dir); throw e }
      }
    }

  // ---- file-level data skipping (Iceberg-manifest-stats analog) ----

  /** Per-file min/max column stats for a freshly written data dir,
    * stored as `_stats.jsonl` inside it (underscore-prefixed files are
    * invisible to parquet discovery). One line per (file, column).
    *
    * Read from the PARQUET FOOTERS — pure metadata I/O, no row is ever
    * scanned — exactly where a production table format gets its
    * manifest stats. Recorded columns: un-annotated int32/int64 and
    * float/double primitives ("long"/"double") and UTF8 binaries
    * ("string", ASCII-only bounds ≤ 128 chars — parquet orders binary
    * stats by unsigned bytes, which agrees with Java string order only
    * on ASCII, and oversized bounds would bloat the manifest); doubles
    * with NaN bounds are dropped. Partition columns never appear in
    * the files, so their values are recorded from the `k=v` path
    * segments (min = max = the literal) — which is how partition
    * pruning rides the same [[readWhere]] mechanism. Absence of a line
    * just disables skipping for that (file, column). */
  private def writeStats(table: String, dir: String,
      writerSchema: org.apache.spark.sql.types.StructType): Unit = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import scala.jdk.CollectionConverters._
    val dataDir = new Path(tableDir(table), dir)
    // Record the writer's schema next to the data: readers re-open the
    // dir with this EXPLICIT schema, so partition values keep their
    // declared types (Spark's path-value type inference would read a
    // StringType partition holding "9" back as an int — silently
    // changing the table's schema and its comparison semantics).
    writeFile(new Path(dataDir, "_schema.json"), writerSchema.json)
    val files = dataFiles(dataDir).map(_.getPath)
    if (files.isEmpty) return // zero-row write (e.g. a delete emptied every partition)
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case c => c.toString
    }
    val isAscii = (s: String) => s.forall(c => c >= ' ' && c < 127)
    val conf = spark.sparkContext.hadoopConfiguration
    val marker = "/" + dir + "/"
    // footer reads are independent metadata I/O — a many-leaf
    // partitioned write would otherwise pay one serial driver
    // round-trip per file (measured: ~25 s for ~700 tiny leaves)
    val tagged = Lakehouse.parallelMeta(files) { file =>
      val full = file.toString
      val rel = full.substring(full.indexOf(marker) + 1)
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try {
        val footer = reader.getFooter
        // (column name, type tag) for flat stat-able primitives
        val fields = footer.getFileMetaData.getSchema.getFields.asScala.collect {
          case f if f.isPrimitive =>
            val p = f.asPrimitiveType()
            val ann = p.getLogicalTypeAnnotation
            import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
            val tag = p.getPrimitiveTypeName match {
              case INT32 | INT64
                if ann == null || ann.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation] => "long"
              // DATE (days since epoch) and UTC-micros TIMESTAMP stats
              // record as plain numerics — the conjunct side unwraps
              // its DateDays/TsMicros literals to the same scale, so
              // time-range scans skip at FILE granularity (the
              // dominant access pattern for event data at scale)
              case INT32 if ann.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation] => "long"
              case INT64 if (ann match {
                case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                  t.isAdjustedToUTC && t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
                case _ => false
              }) => "long"
              case FLOAT | DOUBLE if ann == null => "double"
              case BINARY if ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] => "string"
              case _ => ""
            }
            (p.getName, tag)
        }.filter(_._2.nonEmpty).toMap
        // fold row-group chunk stats into per-file bounds; a single
        // chunk without usable stats kills that column's bound for the
        // whole file (a partial bound would wrongly skip rows)
        val acc = scala.collection.mutable.Map.empty[String, (String, String, String)]
        val dead = scala.collection.mutable.Set.empty[String]
        footer.getBlocks.asScala.foreach { block =>
          block.getColumns.asScala.foreach { chunk =>
            val name = chunk.getPath.toDotString
            fields.get(name).filterNot(_ => dead.contains(name)).foreach { t =>
              val st = chunk.getStatistics
              val usable = st != null && st.hasNonNullValue
              val bounds = if (!usable) None else {
                val (lo, hi) = t match {
                  case "string" =>
                    (st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8,
                      st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)
                  case _ => (st.genericGetMin.toString, st.genericGetMax.toString)
                }
                val ok = t match {
                  // non-finite bounds are useless for range tests and
                  // crash BigDecimal parsing downstream — drop them all
                  case "double" => scala.util.Try(lo.toDouble).toOption.exists(_.isFinite) &&
                    scala.util.Try(hi.toDouble).toOption.exists(_.isFinite)
                  case "string" => lo.length <= 128 && hi.length <= 128 && isAscii(lo) && isAscii(hi)
                  case _ => true
                }
                if (ok) Some((lo, hi)) else None
              }
              bounds match {
                case Some((lo, hi)) => acc.updateWith(name) {
                  case None => Some((t, lo, hi))
                  case Some((_, plo, phi)) =>
                    // an unparseable numeric bound kills the column's
                    // stat for this file (conservative) instead of
                    // failing the whole append
                    scala.util.Try {
                      def less(a: String, b: String) =
                        if (t == "string") a < b else BigDecimal(a) < BigDecimal(b)
                      (t, if (less(lo, plo)) lo else plo, if (less(phi, hi)) hi else phi)
                    }.toOption.orElse { dead += name; None }
                }
                case None => dead += name; acc.remove(name)
              }
            }
          }
        }
        // Partition values from the path: data-N/k=v/... segments. The
        // stat TYPE comes from the writer's schema, never from whether
        // the value happens to parse as a number — a StringType
        // partition column holding "9"/"10" typed "long" would make
        // rangeMayMatch compare numerically while the engine compares
        // lexically ("9" > "10" is TRUE as strings), wrongly skipping
        // matching files. Unmapped types record no stat (no pruning,
        // conservatively correct).
        import org.apache.spark.sql.types._
        val schemaTag: Map[String, String] = writerSchema.fields.map { f =>
          f.name -> (f.dataType match {
            case ByteType | ShortType | IntegerType | LongType => "long"
            case FloatType | DoubleType => "double"
            case StringType => "string"
            case _ => ""
          })
        }.toMap
        val partStats = rel.split("/").dropRight(1).filter(_.contains("=")).flatMap { seg =>
          val Array(k, raw) = seg.split("=", 2)
          val v = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(raw)
          if (v == "__HIVE_DEFAULT_PARTITION__") None // null partition: no bound
          else schemaTag.getOrElse(k, "") match {
            case "" =>
              // identity DATE partitions: the path holds the ISO date;
              // record epoch DAYS so date-literal conjuncts (DateDays)
              // prune numerically like any other bound
              writerSchema.fields.find(_.name == k).map(_.dataType) match {
                case Some(DateType) =>
                  scala.util.Try(java.time.LocalDate.parse(v).toEpochDay).toOption
                    .map(d => (k, ("long", d.toString, d.toString)))
                case _ => None
              }
            // string path values get the SAME guard as footer string
            // stats: non-ASCII bounds would compare in Java UTF-16
            // order while the engine (and any pushed-aggregate readout)
            // compares UTF8-binary — a silently-wrong prune/min/max
            case "string" if v.length <= 128 && isAscii(v) =>
              Some((k, ("string", v, v)))
            case "string" => None
            case "double" if !scala.util.Try(v.toDouble).toOption.exists(_.isFinite) =>
              None // non-finite bounds break BigDecimal range tests
            case t => Some((k, (t, v, v)))
          }
        }
        // Per-file ROW and NULL counts (`_rowcounts.jsonl`): rows from
        // block metadata, per-column null counts from chunk statistics
        // (a chunk without a usable count poisons that column — the
        // line OMITS it, so a reader can never mistake unknown for
        // zero). Partition-path columns are constant per file and
        // non-null whenever a value segment is present. The DSv2
        // aggregate pushdown ([[graft.sources.spj.SpjMetaAgg]]) answers
        // count(*) / count(col) from these without opening any data file.
        val nRows = footer.getBlocks.asScala.map(_.getRowCount).sum
        val nullAcc = scala.collection.mutable.Map.empty[String, Long]
        val nullUnknown = scala.collection.mutable.Set.empty[String]
        footer.getBlocks.asScala.foreach { block =>
          block.getColumns.asScala.foreach { chunk =>
            val name = chunk.getPath.toDotString
            if (fields.contains(name) && !nullUnknown.contains(name)) {
              val st = chunk.getStatistics
              if (st != null && st.isNumNullsSet && st.getNumNulls >= 0)
                nullAcc.updateWith(name)(p => Some(p.getOrElse(0L) + st.getNumNulls))
              else { nullUnknown += name; nullAcc.remove(name) }
            }
          }
        }
        partStats.foreach { case (k, _) =>
          if (!nullAcc.contains(k) && !nullUnknown.contains(k)) nullAcc(k) = 0L
        }
        val nullsJson = nullAcc.toSeq.sortBy(_._1)
          .map { case (c, n) => s""""${esc(c)}":$n""" }.mkString(",")
        val rcLine = s"""{"file":"${esc(rel)}","rows":$nRows,"nulls":{$nullsJson}}"""
        (acc.toSeq ++ partStats).map { case (c, (t, lo, hi)) =>
          ("s", s"""{"file":"${esc(rel)}","col":"${esc(c)}","t":"$t","lo":"${esc(lo)}","hi":"${esc(hi)}"}""")
        } :+ (("r", rcLine))
      } finally reader.close()
    }
    val lines = tagged.collect { case ("s", l) => l }
    val rcLines = tagged.collect { case ("r", l) => l }
    if (lines.nonEmpty) writeFile(new Path(dataDir, "_stats.jsonl"), lines.mkString("\n") + "\n")
    if (rcLines.nonEmpty)
      writeFile(new Path(dataDir, "_rowcounts.jsonl"), rcLines.mkString("\n") + "\n")
  }

  private def jsonEsc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case c => c.toString
  }

  private def unesc(s: String) =
    s.replace("\\n", "\n").replace("\\\"", "\"").replace("\\\\", "\\")

  /** The schema the writer of `dataDir` declared (see [[writeStats]]);
    * None for dirs predating schema recording. */
  private def dirSchema(table: String, dataDir: String): Option[org.apache.spark.sql.types.StructType] = {
    val lines = readLines(new Path(new Path(tableDir(table), dataDir), "_schema.json"))
    if (lines.isEmpty) None
    else scala.util.Try(
      org.apache.spark.sql.types.DataType.fromJson(lines.mkString("\n"))
        .asInstanceOf[org.apache.spark.sql.types.StructType]).toOption
  }

  /** Open one data dir's entries (whole dir, partition leaves, or an
    * explicit file list) with the dir's RECORDED writer schema when
    * available — partition columns then resolve to their declared
    * types instead of path-value inference (a string partition of
    * numeric-looking values must stay a string). Falls back to
    * mergeSchema inference for unrecorded dirs. */
  private def openDirGroup(table: String, dataDir: String, paths: Seq[String],
      asOf: Option[Long] = None): DataFrame = {
    Lakehouse.dataDirOpens.incrementAndGet()
    val base = new Path(tableDir(table), dataDir)
    val reader = dirSchema(table, dataDir) match {
      case Some(st) => spark.read.schema(st)
      case None => spark.read.option("mergeSchema", "true")
    }
    val raw =
      if (paths == Seq(dataDir)) reader.parquet(base.toString)
      else reader.option("basePath", base.toString)
        .parquet(paths.map(e => new Path(tableDir(table), e).toString): _*)
    // hidden partitioning: the derived `_p_…` layout columns are
    // write-side internals — every read path drops them here, so DML
    // rewrites can't leak them into data files and the user schema is
    // layout-independent (`_metadata` still resolves through the
    // projection for positional tombstones)
    val dropped = Transforms.dropDerived(raw)
    // RESTORE the recorded writer's column order: Spark's partitioned
    // read emits partition columns LAST whatever the explicit schema
    // said, so without this a CoW rewrite of an identity-partitioned
    // dir would write its survivors partition-column-last — and a
    // table mixing rewritten and original dirs would read under an
    // ORDER-UNSTABLE merged schema (name-based consumers never notice;
    // the DSv2 layout schema and any positional consumer would).
    val ordered = dirSchema(table, dataDir) match {
      case Some(st) =>
        val names = st.fieldNames.filterNot(_.startsWith("_p_")).toSeq
        if (dropped.columns.toSeq == names ||
          names.exists(!dropped.columns.contains(_))) dropped
        else dropped.select(names.map(org.apache.spark.sql.functions.col): _*)
      case None => dropped
    }
    alignToDeclared(table, dataDir, ordered, asOf)
  }

  /** Parsed `(file, col, type, lo, hi)` stats lines of one data dir. */
  /** Record per-file BLOOM membership sets for `cols` across the
    * branch's current snapshot — the point-lookup skipping that
    * min/max bounds can never give on UNCLUSTERED keys (a random key
    * interleaved across files spans every file's range; its hash hits
    * ~1 file's bloom). The Iceberg puffin/bloom-filter analog: one
    * narrow scan per data dir builds `collect_set(h62(value) mod
    * bits)` per (file, column) — metadata-sized for point-queryable
    * keys — stored as `_bloom.jsonl` beside the stats; [[readWhere]]
    * then skips files whose bloom provably excludes an equality
    * conjunct's literal. Supported column types: integral and string
    * (their cast-to-string canonical form is engine-stable); others
    * are ignored. Re-run after compaction — new dirs carry no blooms
    * (absent = no pruning, conservatively correct). */
  def addBloom(table: String, cols: Seq[String], bits: Int = 4096,
      branch: String = "main"): Unit = {
    import org.apache.spark.sql.functions.{col, collect_set, pmod, lit}
    import org.apache.spark.sql.types._
    val snap = currentSnapshot(table, branch)
      .getOrElse(throw new IllegalArgumentException(s"no such table/branch: $table@$branch"))
    val entries = snapshots(table).find(_._1 == snap).get._2
    entries.groupBy(_.takeWhile(_ != '/')).toSeq.sortBy(_._1).foreach {
      case (dataDir, dirEntries) =>
        val df = openDirGroup(table, dataDir,
          if (dirEntries.contains(dataDir)) Seq(dataDir) else dirEntries)
        val tag: Map[String, String] = df.schema.fields.map { f =>
          f.name -> (f.dataType match {
            case ByteType | ShortType | IntegerType | LongType => "long"
            case StringType => "string"
            case _ => ""
          })
        }.toMap
        val usable = cols.filter(c => tag.getOrElse(c, "").nonEmpty)
        if (usable.nonEmpty) {
          val aggs = usable.map(c => collect_set(
            pmod(graft.functions.HashFunctions.h62(col(c).cast("string")), lit(bits.toLong)))
            .as(s"__b_$c"))
          val rows = df
            .select(col("_metadata.file_path").as("__file") +: usable.map(col): _*)
            .groupBy("__file")
            .agg(aggs.head, aggs.tail: _*)
            .collect()
          val marker = "/" + dataDir + "/"
          val keyed = rows.flatMap { r =>
            val full = r.getString(0)
            val rel = full.substring(full.indexOf(marker) + 1)
            usable.zipWithIndex.map { case (c, i) =>
              val set = r.getSeq[Long](i + 1).sorted.mkString(",")
              (rel, c) ->
                s"""{"file":"${jsonEsc(rel)}","col":"${jsonEsc(c)}","t":"${tag(c)}","bits":$bits,"set":"$set"}"""
            }
          }
          // MERGE with any existing bloom set: a second addBloom for a
          // different column must not discard the first one's pruning —
          // keep prior (file, col) lines this call didn't recompute.
          val bloomPath = new Path(new Path(tableDir(table), dataDir), "_bloom.jsonl")
          val newKeys = keyed.map(_._1).toSet
          val keyRe = """\{"file":"(.*)","col":"(.*)","t":""".r
          val kept = readLines(bloomPath).filter { line =>
            keyRe.findFirstMatchIn(line)
              .forall(m => !newKeys.contains((unesc(m.group(1)), unesc(m.group(2)))))
          }
          writeFile(bloomPath, (kept ++ keyed.map(_._2)).mkString("\n") + "\n")
        }
    }
  }

  // ---- native parquet bloom filters ----
  //
  // The write-time alternative to the `_bloom.jsonl` ledger: declared
  // columns get parquet-mr bloom filters written INTO each file during
  // the ordinary data pass (`parquet.bloom.filter.enabled#col`), and
  // equality skipping reads them back from the footers — no post-hoc
  // build scan, exactly where Iceberg/Parquet tables keep them. The
  // ledger stays for engine-agnostic stats and for columns bloomed
  // after the fact ([[addBloom]]); when both exist for a (file, col),
  // the ledger answers first and the footer is never opened.

  private def bloomColsPath(table: String) = new Path(tableDir(table), "_bloomcols.json")

  /** Declare columns whose FUTURE writes carry native parquet bloom
    * filters. Persisted per table; takes effect on the next write
    * (existing files are immutable — [[addBloom]] covers them). */
  def declareBloomColumns(table: String, cols: Seq[String]): Unit =
    tableLock(table).synchronized {
      fs.mkdirs(tableDir(table))
      writeFile(bloomColsPath(table),
        s"""{"cols":[${cols.map(c => s""""${jsonEsc(c)}"""").mkString(",")}]}""" + "\n")
    }

  /** Columns declared for native bloom writes; empty when undeclared. */
  def bloomDeclared(table: String): Set[String] =
    readLines(bloomColsPath(table)).headOption.toSeq.flatMap { line =>
      """"([^"]*)"""".r.findAllMatchIn(line.stripPrefix("""{"cols":[""")).map(_.group(1)).toSeq
    }.filter(_ != "cols").toSet

  private def sortOrderPath(table: String) = new Path(tableDir(table), "_sortorder.json")

  /** Declare the table's WRITE SORT ORDER (Iceberg's
    * `write.sort-order`): every subsequent write sorts rows by these
    * columns within each task — and under
    * `spark.graft.write-distribution=range` also range-partitions by
    * them — so fresh files are born key-clustered with tight disjoint
    * min/max bounds. The read-amplification win of
    * [[compactClustered]] without ever paying the compaction pass. */
  def declareSortOrder(table: String, cols: Seq[String]): Unit =
    tableLock(table).synchronized {
      fs.mkdirs(tableDir(table))
      writeFile(sortOrderPath(table),
        s"""{"cols":[${cols.map(c => s""""${jsonEsc(c)}"""").mkString(",")}]}""" + "\n")
    }

  /** Declared write sort order; empty when undeclared. */
  def sortOrderOf(table: String): Seq[String] =
    readLines(sortOrderPath(table)).headOption.toSeq.flatMap { line =>
      """"([^"]*)"""".r.findAllMatchIn(line.stripPrefix("""{"cols":[""")).map(_.group(1)).toSeq
    }.filter(_ != "cols")

  private def sumColsPath(table: String) = new Path(tableDir(table), "_sumcols.json")

  /** Declare columns whose per-file SUMS are recorded at write time
    * (`_sums.jsonl` beside `_stats.jsonl`), making `sum(col)` a
    * metadata-only readout through the DSv2 aggregate pushdown
    * ([[graft.sources.spj.SpjMetaAgg]]) —
    * parquet footers carry min/max but not sums, so this is the one
    * stat that costs an extra aggregation pass over the FRESH data
    * (only the new files, computed while they're hot; never a
    * re-scan of the table). Opt-in per table because most columns are
    * never summed; exact only for integral and decimal columns
    * (double addition is order-dependent, so doubles record nothing
    * and always scan). Existing dirs are backfilled by
    * [[computeSums]]. */
  def declareSumColumns(table: String, cols: Seq[String]): Unit =
    tableLock(table).synchronized {
      fs.mkdirs(tableDir(table))
      writeFile(sumColsPath(table),
        s"""{"cols":[${cols.map(c => s""""${jsonEsc(c)}"""").mkString(",")}]}""" + "\n")
    }

  /** Columns declared for write-time sum recording; empty when
    * undeclared. */
  def sumDeclared(table: String): Seq[String] =
    readLines(sumColsPath(table)).headOption.toSeq.flatMap { line =>
      """"([^"]*)"""".r.findAllMatchIn(line.stripPrefix("""{"cols":[""")).map(_.group(1)).toSeq
    }.filter(_ != "cols")

  /** The decimal SCALE at which a column's sums record exactly; None
    * for types whose addition is not exactly restatable (doubles) or
    * not numeric at all. Integral sums record at scale 0, decimals at
    * their own scale — decimal addition is associative, so per-file
    * partials recombine bit-exactly in any order. */
  private def sumScale(dt: org.apache.spark.sql.types.DataType): Option[Int] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => Some(0)
      case d: DecimalType => Some(d.scale)
      case _ => None
    }
  }

  /** Write `_sums.jsonl` from the write pass's OWN observed per-key
    * sums ([[WriteSumsFusion]]) — zero extra jobs, no re-read of the
    * fresh files. Each file's ledger entry comes from the observed key
    * (task partition id from its `part-NNNNN-` name, leaf values from
    * its unescaped path segments); the mapping is verified
    * all-or-nothing: any surprise (split files, foreign layout, an
    * ambiguous `__HIVE_DEFAULT_PARTITION__`, metrics not delivered)
    * returns false and the caller runs the second-pass [[writeSums]].
    * True = ledger written (or provably nothing to record). */
  private def writeFusedSums(table: String, dir: String,
      physNames: Seq[String], cols: Seq[String],
      obs: org.apache.spark.sql.Observation): Boolean = {
    import WriteSumsFusion.{AllNull, NullV, Sep}
    try {
      val dataDir = new Path(tableDir(table), dir)
      val files = dataFiles(dataDir).map(_.getPath)
      if (files.isEmpty) return true // zero-row write: the scan pass records nothing either
      val row = scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(30, java.util.concurrent.TimeUnit.SECONDS))
      val maps: Seq[scala.collection.Map[String, String]] =
        cols.map(c => row.getAs[scala.collection.Map[String, String]](c))
      val PartRe = "part-(\\d+)-".r
      val marker = "/" + dir + "/"
      val seen = scala.collection.mutable.Set.empty[String]
      val lines = files.map { f =>
        val full = f.toString
        val at = full.indexOf(marker)
        require(at >= 0, s"file outside its data dir: $full")
        val rel = full.substring(at + 1)
        val segs = rel.split("/")
        val pid = PartRe.findFirstMatchIn(segs.last)
          .getOrElse(throw new IllegalArgumentException(
            s"unexpected file name: ${segs.last}")).group(1).toInt
        val leaf = segs.drop(1).dropRight(1)
        require(leaf.length == physNames.length,
          s"layout mismatch: $rel vs $physNames")
        val vals = leaf.toSeq.zip(physNames).map { case (seg, pn) =>
          val eq = seg.indexOf('=')
          require(eq > 0 && seg.substring(0, eq) == pn,
            s"partition segment mismatch: $seg vs $pn")
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(seg.substring(eq + 1))
        }
        // __HIVE_DEFAULT_PARTITION__ covers BOTH null and "" values:
        // expand every default segment both ways and require exactly
        // ONE candidate key to be observed
        val candidates = vals.foldLeft(Seq(Seq(pid.toString))) { (acc, v) =>
          val opts =
            if (v == "__HIVE_DEFAULT_PARTITION__") Seq(NullV, "")
            else Seq(v)
          acc.flatMap(prefix => opts.map(prefix :+ _))
        }.map(_.mkString(Sep))
        val present = candidates.filter(maps.head.contains)
        require(present.length == 1,
          s"ambiguous or missing observed key for $rel (${present.length})")
        val key = present.head
        require(seen.add(key), s"two files share one observed key: $rel")
        val sums = cols.zip(maps).map { case (c, m) =>
          val v = m.getOrElse(key, throw new IllegalArgumentException(
            s"column $c has no observed entry for $rel"))
          s""""${jsonEsc(c)}":${if (v == AllNull) "null" else "\"" + v + "\""}"""
        }.mkString(",")
        s"""{"file":"${jsonEsc(rel)}","sums":{$sums}}"""
      }
      // every observed key must be consumed: an orphan entry means the
      // file↔key bijection failed somewhere — refuse the whole ledger
      require(maps.head.keysIterator.forall(seen.contains),
        "observed keys without a matching file")
      writeFile(new Path(dataDir, "_sums.jsonl"), lines.mkString("\n") + "\n")
      Lakehouse.fusedSumsLedgers.incrementAndGet()
      true
    } catch { case scala.util.control.NonFatal(_) => false }
  }

  /** The parquet data files under `p`, by Spark's discovery rule:
    * `_`-prefixed names are hidden UNLESS they are partition dirs
    * (contain `=`) — hidden-partitioning leaves (`_p_days_ts=…`) must
    * be walked. */
  private def dataFiles(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(p).toSeq.flatMap {
      case s if s.isFile && s.getPath.getName.endsWith(".parquet") => Seq(s)
      case s if s.isDirectory && (!s.getPath.getName.startsWith("_") ||
        s.getPath.getName.contains("=")) => dataFiles(s.getPath)
      case _ => Seq.empty
    }

  /** Per-file sums of the declared summable columns for one data dir
    * — ONE distributed aggregation over exactly the dir's files,
    * grouped by source file. Runs as part of the write (the data is
    * hot); [[computeSums]] reuses it to backfill old dirs. */
  private def writeSums(table: String, dir: String,
      writerSchema: org.apache.spark.sql.types.StructType): Unit = {
    import org.apache.spark.sql.functions.{col, input_file_name, sum}
    import org.apache.spark.sql.types.DecimalType
    val declared = sumDeclared(table)
    val cols = writerSchema.fields
      .filter(f => declared.contains(f.name))
      .flatMap(f => sumScale(f.dataType).map(s => (f.name, s)))
    if (cols.isEmpty) return
    val dataDir = new Path(tableDir(table), dir)
    val files = dataFiles(dataDir).map(_.getPath)
    if (files.isEmpty) return
    val reader = dirSchema(table, dir) match {
      case Some(st) => spark.read.schema(st)
      case None => spark.read.option("mergeSchema", "true")
    }
    val df = reader.option("basePath", dataDir.toString)
      .parquet(files.map(_.toString): _*)
    val present = df.columns.toSet
    val usable = cols.filter { case (c, _) => present.contains(c) }
    if (usable.isEmpty) return
    // sum at decimal(38, s): exact and overflow-safe for any file size
    val aggs = usable.map { case (c, s) =>
      sum(col(c).cast(DecimalType(38, s))).as(c)
    }
    val marker = "/" + dir + "/"
    def relOf(full: String): Option[String] = {
      // input_file_name is a URI form of the path — normalize through
      // Path so escaped partition values match the ledger's keying
      val p = scala.util.Try(new Path(new java.net.URI(full)).toString).getOrElse(full)
      val i = p.indexOf(marker)
      if (i < 0) None else Some(p.substring(i + 1))
    }
    def esc(s: String) = jsonEsc(s)
    val lines = df.groupBy(input_file_name().as("_f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // bounded: one row per file of THIS dir
      .flatMap { row =>
        relOf(row.getString(0)).map { rel =>
          val sums = usable.indices.map { i =>
            val v = row.get(i + 1)
            val s = if (v == null) "null"
              else "\"" + v.asInstanceOf[java.math.BigDecimal].toPlainString + "\""
            s""""${esc(usable(i)._1)}":$s"""
          }.mkString(",")
          s"""{"file":"${esc(rel)}","sums":{$sums}}"""
        }
      }
    if (lines.length == files.length) { // a file the marker couldn't key = incomplete ledger: record nothing
      writeFile(new Path(dataDir, "_sums.jsonl"), lines.mkString("\n") + "\n")
      Lakehouse.scannedSumsLedgers.incrementAndGet()
    }
  }

  /** Parsed `_sums.jsonl` of one data dir: relative file path →
    * column → recorded exact sum (None = the file's values are all
    * NULL, which SQL sum skips). A file absent from the map has no
    * recorded sums and must scan. */
  private def readSumsLedger(table: String, dataDir: String): Map[String, Map[String, Option[java.math.BigDecimal]]] = {
    val RowRe = """\{"file":"(.*)","sums":\{(.*)\}\}""".r
    val PairRe = """"((?:[^"\\]|\\.)*)":(?:"(-?[\d.]+)"|null)""".r
    readLines(new Path(new Path(tableDir(table), dataDir), "_sums.jsonl")).flatMap { line =>
      RowRe.findFirstMatchIn(line).map { g =>
        val sums = PairRe.findAllMatchIn(g.group(2)).map { p =>
          unesc(p.group(1)) -> Option(p.group(2)).map(new java.math.BigDecimal(_))
        }.toMap
        unesc(g.group(1)) -> sums
      }
    }.toMap
  }

  /** Declare + BACKFILL sum recording (the Iceberg
    * `compute_table_stats`-procedure analog): declares `cols` for
    * write-time sums, then builds the missing `_sums.jsonl` for every
    * data dir of the current snapshot that lacks one — one
    * distributed pass per unbuilt dir, proportional to the data
    * metadata can't yet answer for, never a re-scan of covered dirs.
    * Subsequent writes record sums inline. */
  def computeSums(table: String, cols: Seq[String], branch: String = "main"): Unit = {
    declareSumColumns(table, cols)
    val snap = currentSnapshot(table, branch)
      .getOrElse(throw new IllegalArgumentException(s"no such table/branch: $table@$branch"))
    val entries = snapshots(table).find(_._1 == snap).get._2
    val unbuilt = entries.map(_.takeWhile(_ != '/')).distinct.sorted.filterNot { dataDir =>
      fs.exists(new Path(new Path(tableDir(table), dataDir), "_sums.jsonl"))
    }
    unbuilt.foreach { dataDir =>
      val schema = dirSchema(table, dataDir)
        .getOrElse(spark.read.option("mergeSchema", "true")
          .parquet(new Path(tableDir(table), dataDir).toString).schema)
      writeSums(table, dataDir, schema)
    }
    // the backfill adds ledgers without a new snapshot: a layout cached
    // at this snapshot would keep serving files with no sums
    if (unbuilt.nonEmpty) Lakehouse.catalogEpoch.incrementAndGet()
  }

  /** Can `rel`'s NATIVE parquet bloom filter possibly contain any of
    * `values` for column `c`? Reads the footer's bloom (pure metadata
    * I/O); a file is skipped only when EVERY row group's bloom
    * excludes EVERY value. Hashes are computed at the column's
    * physical type — a mistyped literal contributes no pruning rather
    * than a wrong hash — and any I/O or format surprise degrades to
    * "may match", never a failed read. */
  private def nativeBloomMayMatch(table: String, rel: String, c: String,
      values: Seq[Any]): Boolean = scala.util.Try {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val in = HadoopInputFile.fromPath(
      new Path(tableDir(table), rel), spark.sessionState.newHadoopConf())
    val r = ParquetFileReader.open(in)
    try {
      r.getRowGroups.asScala.exists { bm =>
        bm.getColumns.asScala.find(_.getPath.toDotString == c) match {
          case None => true // column absent in this file: no verdict
          case Some(cm) =>
            val bf = r.getBloomFilterDataReader(bm).readBloomFilter(cm)
            if (bf == null) true // no filter written: no verdict
            else values.exists { v =>
              val hash = (cm.getPrimitiveType.getPrimitiveTypeName, v) match {
                case (PrimitiveTypeName.INT64, x: Long) => Some(bf.hash(x))
                case (PrimitiveTypeName.INT64, x: Int) => Some(bf.hash(x.toLong))
                case (PrimitiveTypeName.INT32, x: Int) => Some(bf.hash(x))
                case (PrimitiveTypeName.INT32, x: Long) if x.isValidInt =>
                  Some(bf.hash(x.toInt))
                case (PrimitiveTypeName.BINARY, s: String) =>
                  Some(bf.hash(org.apache.parquet.io.api.Binary.fromString(s)))
                case (PrimitiveTypeName.DOUBLE, x: Double) => Some(bf.hash(x))
                case (PrimitiveTypeName.FLOAT, x: Float) => Some(bf.hash(x))
                case _ => None // type mismatch: no pruning from this value
              }
              hash.forall(bf.findHash)
            }
        }
      }
    } finally r.close()
  }.getOrElse(true)

  /** Parsed `_bloom.jsonl` of a data dir: (file, col, type, bits,
    * membership positions). */
  private def readBlooms(table: String,
      dataDir: String): Seq[(String, String, String, Long, Set[Long])] =
    readLines(new Path(new Path(tableDir(table), dataDir), "_bloom.jsonl")).flatMap { line =>
      val m = """\{"file":"(.*)","col":"(.*)","t":"(.*)","bits":(\d+),"set":"(.*)"\}""".r
      m.findFirstMatchIn(line).map(g =>
        (unesc(g.group(1)), unesc(g.group(2)), g.group(3), g.group(4).toLong,
          g.group(5).split(",").filter(_.nonEmpty).map(_.toLong).toSet))
    }

  /** Can a file's bloom possibly contain `v` for an equality conjunct?
    * Only same-kind (column type, literal type) pairings consult the
    * bloom — a double literal against a long column has no stable
    * canonical string, so it conservatively may-match. */
  private def bloomMayMatch(t: String, bits: Long, set: Set[Long], v: Any): Boolean = {
    val canonical = (t, v) match {
      case ("string", s: String) => Some(s)
      case ("long", i: Byte) => Some(i.toString)
      case ("long", i: Short) => Some(i.toString)
      case ("long", i: Int) => Some(i.toString)
      case ("long", i: Long) => Some(i.toString)
      case _ => None
    }
    canonical.forall { s =>
      val h = graft.functions.HashImpl.md5Lower64(
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8)) >>> 2
      set.contains(h % bits)
    }
  }

  private def readStats(table: String, dataDir: String): Seq[(String, String, String, String, String)] = {
    Lakehouse.ledgerReads.incrementAndGet()
    readLines(new Path(new Path(tableDir(table), dataDir), "_stats.jsonl")).flatMap { line =>
      val m = """\{"file":"(.*)","col":"(.*)","t":"(.*)","lo":"(.*)","hi":"(.*)"\}""".r
      m.findFirstMatchIn(line).map(g =>
        (unesc(g.group(1)), unesc(g.group(2)), g.group(3), unesc(g.group(4)), unesc(g.group(5))))
    }
  }

  /** Parsed `_rowcounts.jsonl` of one data dir: relative file path →
    * (row count, per-column NULL counts). Written by [[writeStats]];
    * absent for dirs written before the ledger existed — callers
    * treat a missing row or null count as unknown (never as zero). */
  private def readRowCounts(table: String, dataDir: String): Map[String, (Long, Map[String, Long])] = {
    val RowRe = """\{"file":"(.*)","rows":(\d+),"nulls":\{(.*)\}\}""".r
    val PairRe = """"((?:[^"\\]|\\.)*)":(-?\d+)""".r
    readLines(new Path(new Path(tableDir(table), dataDir), "_rowcounts.jsonl")).flatMap { line =>
      RowRe.findFirstMatchIn(line).map { g =>
        val nulls = PairRe.findAllMatchIn(g.group(3))
          .map(p => unesc(p.group(1)) -> p.group(2).toLong).filter(_._2 >= 0).toMap
        unesc(g.group(1)) -> ((g.group(2).toLong, nulls))
      }
    }.toMap
  }

  /** Dir-level column ranges of a FRESHLY WRITTEN data dir, as JSON
    * objects for the commit line's `dirstats` array — the
    * manifest-list summary ([[commit]] embeds them; [[matchingFiles]]
    * consults them to skip whole dirs). A column participates only if
    * EVERY parquet file in the dir has a recorded stats line for it
    * and one type — a file without stats could hold anything, so a
    * range over the others would prune wrongly. Bounds are base64
    * (URL-safe) so arbitrary string bounds can never break the
    * one-line-JSON parse that pruning correctness rides on. */
  private def dirStatsJson(table: String, dataDir: String): Seq[String] = {
    val stats = readStats(table, dataDir)
    if (stats.isEmpty) return Nil
    val dirPath = new Path(tableDir(table), dataDir)
    if (!fs.exists(dirPath)) return Nil
    val marker = "/" + dataDir + "/"
    val allFiles = dataFiles(dirPath).map { st =>
      val f = st.getPath.toString; f.substring(f.indexOf(marker) + 1)
    }.toSet
    if (allFiles.isEmpty) return Nil
    val b64 = java.util.Base64.getUrlEncoder.withoutPadding
    def enc(s: String): String =
      b64.encodeToString(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    stats.groupBy(_._2).toSeq.sortBy(_._1).flatMap { case (col, lines) =>
      val types = lines.map(_._3).distinct
      if (types.size != 1 || lines.map(_._1).toSet != allFiles) None
      else {
        val t = types.head
        // keep the WRITTEN bound strings (minBy, not re-rendered): the
        // per-file ledger and the summary must agree bit-for-bit
        def pick(vals: Seq[String], takeMin: Boolean): Option[String] = scala.util.Try {
          if (t == "string") { if (takeMin) vals.min else vals.max }
          else if (takeMin) vals.minBy(BigDecimal(_)) else vals.maxBy(BigDecimal(_))
        }.toOption
        for {
          lo <- pick(lines.map(_._4), takeMin = true)
          hi <- pick(lines.map(_._5), takeMin = false)
        } yield s"""{"dir":"$dataDir","col":"${jsonEsc(col)}","t":"$t",""" +
          s""""lo64":"${enc(lo)}","hi64":"${enc(hi)}"}"""
      }
    }
  }

  /** Parsed manifest-list summaries: data dir → column → (type, lo,
    * hi). Cached per (manifest mtime, length): summaries are written
    * once by the commit that introduces a dir and never mutated, so a
    * stale entry is impossible and the parse cost is one manifest
    * scan per commit, not per query. Dirs absent from the map (tables
    * committed before summaries existed, expired introducing lines,
    * uncovered columns) simply don't dir-skip — per-file stats still
    * apply. */
  private def dirSummaries(table: String): Map[String, Map[String, (String, String, String)]] = {
    // keyed on the LIVE TAIL segment + segment count: a commit changes
    // the tail's (mtime, len); expiry consolidates segments away and
    // changes both the count and the base — either way the key moves
    val segs = manifestSegs(table)
    val status = segs.lastOption.flatMap(p => scala.util.Try(fs.getFileStatus(p)).toOption)
    val key = (tableDir(table).toString + "#" + segs.size,
      status.map(_.getModificationTime).getOrElse(-1L),
      status.map(_.getLen).getOrElse(-1L))
    val cached = Lakehouse.dirSummaryCache.get(key)
    if (cached != null) return cached
    val Obj = ("""\{"dir":"([^"]*)","col":"(.*?)","t":"(long|double|string)",""" +
      """"lo64":"([A-Za-z0-9_\-]*)","hi64":"([A-Za-z0-9_\-]*)"\}""").r
    val dec = java.util.Base64.getUrlDecoder
    def d64(s: String) = new String(dec.decode(s), java.nio.charset.StandardCharsets.UTF_8)
    val parsed = manifestLines(table).flatMap { line =>
      """"dirstats":\[(.*)\]""".r.findFirstMatchIn(line).toSeq.flatMap(m =>
        Obj.findAllMatchIn(m.group(1)).map(g =>
          (g.group(1), unesc(g.group(2)), g.group(3), d64(g.group(4)), d64(g.group(5)))))
    }.groupBy(_._1).map { case (dir, rows) =>
      dir -> rows.map(r => r._2 -> ((r._3, r._4, r._5))).toMap
    }
    if (Lakehouse.dirSummaryCache.size > 256) Lakehouse.dirSummaryCache.clear()
    Lakehouse.dirSummaryCache.put(key, parsed)
    parsed
  }

  /** Can any file in a dir match every conjunct, judged on the dir's
    * manifest-list summary alone? `true` = must open the per-file
    * ledgers; `false` = the whole dir is skipped with ZERO per-dir
    * I/O. Missing summary/column → conservatively true. */
  private def dirMayMatch(summary: Option[Map[String, (String, String, String)]],
      conjuncts: Seq[(String, String, Any)]): Boolean = summary match {
    case None => true
    case Some(cols) => conjuncts.forall { case (c, op, v) =>
      cols.get(c) match {
        case None => true
        case Some((t, lo, hi)) =>
          if (op == "in")
            v.asInstanceOf[Seq[Any]].exists(x => rangeMayMatch(t, lo, hi, "=", x))
          else rangeMayMatch(t, lo, hi, op, v)
      }
    }
  }

  /** A conjunct usable for file skipping: column, comparison op, and
    * literal value, extracted from the predicate AFTER analyzing it
    * against the table's relation (Spark 4 Columns carry ColumnNode
    * trees, so the only reliable way to see typed comparisons is to
    * run the analyzer — `relation.where(pred)` analyzes without
    * executing). Anything unrecognized (OR trees, expressions over the
    * column, UDFs, subqueries) contributes no pruning — conservatively
    * correct, the residual predicate still filters exactly. Casts are
    * looked through only when numeric→numeric (monotone, so min/max
    * comparison stays sound). */
  private def skippableConjuncts(pred: org.apache.spark.sql.Column,
      relation: DataFrame): Seq[(String, String, Any)] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{DateType, NumericType, StringType, TimestampType}
    def name(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case c: Cast if c.child.dataType.isInstanceOf[NumericType] &&
        c.dataType.isInstanceOf[NumericType] => name(c.child)
      case _ => None
    }
    def litVal(e: Expression): Option[Any] = e match {
      case Literal(null, _) => None
      case Literal(v: org.apache.spark.unsafe.types.UTF8String, StringType) => Some(v.toString)
      case Literal(v, t) if t.isInstanceOf[NumericType] => Some(v)
      // date/timestamp literals (internal epoch-days / epoch-micros
      // forms) — no file stats are recorded for these types, so they
      // prune nothing directly, but hidden-partitioning transforms map
      // them onto `_p_…` layout conjuncts ([[Transforms]])
      case Literal(v: Int, DateType) => Some(Transforms.DateDays(v))
      case Literal(v: Long, TimestampType) => Some(Transforms.TsMicros(v))
      case c: Cast if c.dataType == DateType =>
        litVal(c.child).collect { case s: String => s }.flatMap(s =>
          org.apache.spark.sql.catalyst.util.DateTimeUtils.stringToDate(
            org.apache.spark.unsafe.types.UTF8String.fromString(s))
            .map(d => Transforms.DateDays(d)))
      case c: Cast if c.dataType == TimestampType =>
        litVal(c.child).collect { case s: String => s }.flatMap(s =>
          org.apache.spark.sql.catalyst.util.DateTimeUtils.stringToTimestamp(
            org.apache.spark.unsafe.types.UTF8String.fromString(s),
            org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(
              spark.sessionState.conf.sessionLocalTimeZone))
            .map(m => Transforms.TsMicros(m)))
      case c: Cast if c.dataType.isInstanceOf[NumericType] => litVal(c.child)
      case _ => None
    }
    def walk(e: Expression): Seq[(String, String, Any)] = e match {
      case And(l, r) => walk(l) ++ walk(r)
      case other => leaf(other)
    }
    def leaf(e: Expression): Seq[(String, String, Any)] = e match {
      case EqualTo(a, b) =>
        (name(a).zip(litVal(b)).map { case (n, v) => (n, "=", v) } ++
          name(b).zip(litVal(a)).map { case (n, v) => (n, "=", v) }).toSeq
      case GreaterThan(a, b) =>
        (name(a).zip(litVal(b)).map { case (n, v) => (n, ">", v) } ++
          name(b).zip(litVal(a)).map { case (n, v) => (n, "<", v) }).toSeq
      case GreaterThanOrEqual(a, b) =>
        (name(a).zip(litVal(b)).map { case (n, v) => (n, ">=", v) } ++
          name(b).zip(litVal(a)).map { case (n, v) => (n, "<=", v) }).toSeq
      case LessThan(a, b) =>
        (name(a).zip(litVal(b)).map { case (n, v) => (n, "<", v) } ++
          name(b).zip(litVal(a)).map { case (n, v) => (n, ">", v) }).toSeq
      case LessThanOrEqual(a, b) =>
        (name(a).zip(litVal(b)).map { case (n, v) => (n, "<=", v) } ++
          name(b).zip(litVal(a)).map { case (n, v) => (n, ">=", v) }).toSeq
      // IN-lists (`k IN (3, 77, 120)`): a file may match iff ANY value
      // does — the point-lookup-set shape of targeted DML and dimension
      // filters. Only fully-literal lists contribute (one unmappable
      // element would make the disjunction unsound to narrow).
      case In(a, list) if list.nonEmpty =>
        name(a).toSeq.flatMap { n =>
          val vs = list.map(litVal)
          if (vs.forall(_.isDefined)) Seq((n, "in", vs.flatten)) else Seq.empty
        }
      case _ => Seq.empty
    }
    relation.where(pred).queryExecution.analyzed
      .collectFirst { case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition }
      .map(walk).getOrElse(Seq.empty)
  }

  /** Can a file whose recorded [fLo, fHi] for the conjunct's column
    * possibly contain a matching row? Numeric stats compare through
    * BigDecimal (a long-typed column tested against a double literal
    * must not compare lexically); string stats compare as strings. */
  private def rangeMayMatch(t: String, fLo: String, fHi: String,
      op: String, v: Any): Boolean = scala.util.Try {
    // date/timestamp literals arrive as internal-scale wrappers and
    // compare numerically against their days/micros stats
    val vc: Any = v match {
      case Transforms.DateDays(d) => d
      case Transforms.TsMicros(m) => m
      case other => other
    }
    def cmp(bound: String): Int =
      if (t == "string") bound.compareTo(vc.toString)
      else BigDecimal(bound).compare(BigDecimal(vc.toString))
    op match {
      case "=" => cmp(fLo) <= 0 && cmp(fHi) >= 0
      case ">" => cmp(fHi) > 0
      case ">=" => cmp(fHi) >= 0
      case "<" => cmp(fLo) < 0
      case "<=" => cmp(fLo) <= 0
      case _ => true
    }
    // an unparseable bound/literal pairing (e.g. a non-numeric string
    // literal coerced against a numeric column) must degrade to
    // "may match" — no pruning — never crash the read
  }.getOrElse(true)

  /** Files under a snapshot entry (whole dir or partition leaf) that
    * may contain rows matching every conjunct, as table-relative
    * paths. Stats live in the entry's data-dir root keyed by relative
    * path — so partition leaves look up the same ledger. Files with no
    * recorded stats for a conjunct's column are conservatively kept.
    * Partition columns appear in the stats like any other column
    * (their per-file min=max=the partition value), so partition
    * pruning falls out of the same mechanism. */
  private def matchingFiles(table: String, entry: String,
      conjuncts: Seq[(String, String, Any)],
      sums: Map[String, Map[String, (String, String, String)]]): Seq[String] = {
    val dataDir = entry.takeWhile(_ != '/')
    // manifest-list gate first: if the dir's committed column ranges
    // prove no file can match, skip without opening stats, blooms, or
    // listing the dir — the Iceberg plan-time property that keeps
    // metadata I/O proportional to MATCHING dirs, not table history.
    // `sums` is computed ONCE per operation by the caller — resolving
    // it here would re-list the table dir per entry, O(history) fs
    // calls per filtered read on a long-history table.
    if (conjuncts.nonEmpty && !dirMayMatch(sums.get(dataDir), conjuncts))
      return Seq.empty
    val stats = readStats(table, dataDir)
    val byFileCol = stats.groupBy(s => (s._1, s._2))
    val bloomsByFileCol = readBlooms(table, dataDir).groupBy(b => (b._1, b._2))
    val nativeBloomCols = bloomDeclared(table)
    val entryPath = new Path(tableDir(table), entry)
    if (!fs.exists(entryPath)) return Seq.empty
    dataFiles(entryPath).map { st =>
      val full = st.getPath.toString
      val marker = "/" + dataDir + "/"
      full.substring(full.indexOf(marker) + 1)
    }.filter { rel =>
      conjuncts.forall { case (c, op, v) =>
        // `in` is a disjunction of equalities: the file survives iff
        // ANY listed value may match (ranges), and — when blooms exist
        // — ANY listed value passes its bloom
        val eqValues: Seq[Any] = op match {
          case "in" => v.asInstanceOf[Seq[Any]]
          case "=" => Seq(v)
          case _ => Seq.empty
        }
        val rangeOk = byFileCol.get((rel, c)).forall(_.exists { case (_, _, t, fLo, fHi) =>
          if (op == "in") eqValues.exists(x => rangeMayMatch(t, fLo, fHi, "=", x))
          else rangeMayMatch(t, fLo, fHi, op, v)
        })
        val bloomOk = eqValues.isEmpty ||
          (bloomsByFileCol.get((rel, c)) match {
            case Some(ledger) => // ledger answers; footer never opened
              ledger.exists { case (_, _, t, bits, set) =>
                eqValues.exists(x => bloomMayMatch(t, bits, set, x))
              }
            case None if nativeBloomCols.contains(c) =>
              // survived the range check with no ledger line: consult
              // the file's own parquet bloom (footer metadata read)
              rangeOk && nativeBloomMayMatch(table, rel, c, eqValues)
            case None => true
          })
        rangeOk && bloomOk
      }
    }
  }

  /** Filtered read with FILE-LEVEL data skipping on every scan: the
    * predicate's AND-of-comparison conjuncts are tested against the
    * `_stats.jsonl` min/max ledger and files that cannot contain a
    * match are never opened; the full predicate then filters exactly.
    * The Iceberg-manifest data-skipping property: a time/key-range
    * query over a long append chain reads the few files that can
    * match, not the table. Works on partitioned and unpartitioned
    * tables alike (partition-column conjuncts prune through the same
    * stats). This is the default filtered-scan path — `prunedRead` is
    * the range-shaped convenience over it. */
  def readWhere(pred: org.apache.spark.sql.Column, table: String,
      branch: String = "main", atSnapshot: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    // `atSnapshot` pins the filtered read to a historical snapshot —
    // the same stats/bloom file pruning, time-travel-consistent (the
    // materialized-view dim-delta probe must read the fact state its
    // watermark names, not whatever commits landed since)
    val snap = atSnapshot.orElse(currentSnapshot(table, branch))
      .getOrElse(throw new IllegalArgumentException(s"no such table/branch: $table@$branch"))
    val entries = snapshots(table).find(_._1 == snap).get._2
    // conjunct analysis runs against a SCHEMA-ONLY relation when
    // metadata can supply the schema: building the real relation here
    // would list every data dir of the snapshot at plan time —
    // O(files) driver fs calls before pruning decides anything. Same
    // attributes/types either way, so the extracted conjuncts match.
    val analysisRel = metaSchema(table, entries, snap) match {
      case Some(st) => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
      case None => read(table, branch)
    }
    val conjuncts = Transforms.derivedConjuncts(
      skippableConjuncts(pred, analysisRel),
      snapshotPhysLayouts(table, entries))
    val sums = dirSummaries(table) // once per read, not per entry
    val byDataDir = entries.groupBy(_.takeWhile(_ != '/')).toSeq.sortBy(_._1)
    val dels = tombstones(table, snap)
    val reads = byDataDir.flatMap { case (dataDir, dirEntries) =>
      val files = dirEntries.flatMap(matchingFiles(table, _, conjuncts, sums)).distinct
      if (files.isEmpty) None
      else Some(applyTombstones(openDirGroup(table, dataDir, files), dataDir, dels))
    }
    if (reads.isEmpty)
      // no file can match: an empty relation with the table's schema
      // (where(false) folds to an empty LocalTableScan — zero I/O)
      read(table, branch).where(lit(false))
    else reads.reduce(_.unionByName(_, allowMissingColumns = true)).where(pred)
  }

  /** Range read via [[readWhere]] — kept as the time/key-range
    * convenience API. */
  def prunedRead(table: String, colName: String, lo: Any, hi: Any,
      branch: String = "main"): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    readWhere(col(colName) >= lit(lo) && col(colName) <= lit(hi), table, branch)
  }

  /** RUNTIME JOIN FILTERING (the Iceberg/Trino dynamic-file-pruning
    * analog): before scanning the fact side of an equi-join, collect
    * the (bounded) distinct join keys from the dimension side and
    * prune fact FILES through the existing stats/bloom IN-list
    * skipping — a dimension filter thereby skips fact files at PLAN
    * time, which static pruning can never do (the fact predicate only
    * exists at runtime). At 100 TB this is the difference between
    * scanning a week's dirs and scanning the table when the dim side
    * narrows to a handful of keys.
    *
    * The collect is bounded by `maxKeys` and is the same class of
    * driver-side materialization as broadcasting that dim side (which
    * an equi-join this shaped does anyway); above the cap the fact
    * scan degrades to an ordinary unpruned read — semantics never
    * change, only I/O. NULL dim keys are dropped (an equi-join never
    * matches NULL). INNER-join use: the returned relation also
    * row-filters fact rows to the collected key set, which the join
    * would do regardless — do not use it as the preserved side of an
    * outer join. */
  def readJoinPruned(table: String, keyCol: String, dim: DataFrame, dimKeyCol: String,
      maxKeys: Int = 10000, branch: String = "main"): DataFrame = {
    import org.apache.spark.sql.functions.col
    val keys = dim.select(col(dimKeyCol)).where(col(dimKeyCol).isNotNull)
      .distinct().limit(maxKeys + 1).collect().map(_.get(0)).toSeq
    if (keys.isEmpty) emptyRead(table, branch) // no keys: inner join is empty
    else if (keys.length > maxKeys) {
      // cap binds: the fact scan silently losing its pruning is the
      // kind of degradation that must be OBSERVABLE — at scale this is
      // the difference between one dir and the table
      System.err.println(s"[graft] readJoinPruned($table): dim side exceeds " +
        s"maxKeys=$maxKeys — falling back to an unpruned scan (same rows, more I/O)")
      read(table, branch) // over cap: no pruning, same rows
    } else readKeysPruned(table, keyCol, keys,
      dim.select(col(dimKeyCol)).schema.head.dataType, branch)
  }

  /** Key-SET pruned read: the same stats/bloom IN-list file skipping
    * and row filtering as `readWhere(col(keyCol).isin(keys…))`, built
    * WITHOUT materializing the key list as a Catalyst expression.
    * A maxKeys-literal `In` is driver-side O(keys) work at every step
    * of its life — `isin` captures a call-site stack trace per
    * `lit()`, each optimizer pass maps the full child list, every
    * plan render sorts the list (`InSet.simpleString`), and the
    * serialized filter rides each task binary (measured 2.7 MiB at
    * 150k keys). Here the keys prune files through the SAME conjunct
    * machinery ([[matchingFiles]]) fed directly, and the exact row
    * filter is a broadcast LEFT SEMI join against the key set — a
    * per-row hash probe, identical surviving rows (equi-join and IN
    * drop NULL keys alike), with plan/render cost O(1) in the key
    * count. Values are normalized to [[skippableConjuncts]]'s
    * litVal forms (dates/timestamps to their internal-scale wrappers)
    * so stats/bloom/transform pruning sees exactly what an IN-literal
    * would have produced. */
  private def readKeysPruned(table: String, keyCol: String, keys: Seq[Any],
      keyType: org.apache.spark.sql.types.DataType, branch: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    import org.apache.spark.sql.functions.{broadcast, lit}
    import org.apache.spark.sql.types.{StructField, StructType}
    val snap = currentSnapshot(table, branch)
      .getOrElse(throw new IllegalArgumentException(s"no such table/branch: $table@$branch"))
    val entries = snapshots(table).find(_._1 == snap).get._2
    val norm: Seq[Any] = keys.map {
      case d: java.sql.Date => Transforms.DateDays(DateTimeUtils.fromJavaDate(d))
      case d: java.time.LocalDate => Transforms.DateDays(DateTimeUtils.localDateToDays(d))
      case t: java.sql.Timestamp => Transforms.TsMicros(DateTimeUtils.fromJavaTimestamp(t))
      case t: java.time.Instant => Transforms.TsMicros(DateTimeUtils.instantToMicros(t))
      case v => v
    }
    val conjuncts = Transforms.derivedConjuncts(
      Seq((keyCol, "in", norm)), snapshotPhysLayouts(table, entries))
    val sums = dirSummaries(table)
    val byDataDir = entries.groupBy(_.takeWhile(_ != '/')).toSeq.sortBy(_._1)
    val dels = tombstones(table, snap)
    val reads = byDataDir.flatMap { case (dataDir, dirEntries) =>
      val files = dirEntries.flatMap(matchingFiles(table, _, conjuncts, sums)).distinct
      if (files.isEmpty) None
      else Some(applyTombstones(openDirGroup(table, dataDir, files), dataDir, dels))
    }
    if (reads.isEmpty) read(table, branch).where(lit(false))
    else {
      val rel = reads.reduce(_.unionByName(_, allowMissingColumns = true))
      // a LocalRelation, not an RDD: broadcasting it builds from local
      // rows without an extra collect job
      val keysDf = spark.createDataFrame(
        java.util.Arrays.asList(keys.map(Row(_)): _*),
        StructType(Seq(StructField("__rjp_k", keyType))))
      // analysis coerces the equality exactly as it would have coerced
      // the IN-literal (same TypeCoercion rules), so a wider fact key
      // column still matches
      rel.join(broadcast(keysDf), rel(keyCol) === keysDf("__rjp_k"), "left_semi")
    }
  }

  /** Empty relation with the table's schema, resolved from METADATA
    * when possible — `read(t).where(false)` would build a DataFrame
    * per data dir (O(dirs) plan-time fs work) just to throw every row
    * away. Used by the no-match fast paths. */
  private def emptyRead(table: String, branch: String): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val rel = for {
      snap <- currentSnapshot(table, branch)
      entries <- snapshots(table).find(_._1 == snap).map(_._2)
      st <- metaSchema(table, entries, snap)
    } yield spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
    rel.getOrElse(read(table, branch).where(lit(false)))
  }

  // ---- row-level DELETE (copy-on-write) ----

  /** Row-level `DELETE WHERE`: copy-on-write at snapshot-entry
    * granularity. Entries whose stats prove no row can match are
    * carried into the new snapshot BY REFERENCE (byte-identical, never
    * rewritten); only entries that may contain matches are re-written
    * minus the deleted rows. With partitioned tables and a predicate
    * on the partition column, this is exactly Iceberg's
    * partition-level copy-on-write delete; with range predicates on a
    * long append chain it touches the few dirs that can match. */
  def deleteWhere(pred: org.apache.spark.sql.Column, table: String,
      partitionBy: Seq[String] = Nil, branch: String = "main"): Long =
    retryingCommit(table, branch) { base =>
      import org.apache.spark.sql.functions.{coalesce, lit}
      val rawEntries = base.map(c => snapshots(table).find(_._1 == c).get._2)
        .getOrElse(throw new IllegalArgumentException(s"no such table: $table"))
      val conjuncts = Transforms.derivedConjuncts(
        skippableConjuncts(pred, readBase(table, base)),
        snapshotPhysLayouts(table, rawEntries))
      // partitioned: classify at partition-LEAF granularity, so a
      // delete that can only hit some partitions carries every other
      // partition by reference (same property as partition-scoped
      // upsert), instead of rewriting the whole dir. Each dir explodes
      // at its OWN recorded layout (partition evolution: a table may
      // carry dirs of several layouts; stats classify all of them, and
      // only the rewrite output takes the current layout).
      val entries =
        if (partitionBy.isEmpty) rawEntries
        else rawEntries.flatMap { e =>
          if (e.contains("/")) Seq(e)
          else dirLayout(table, e) match {
            case Nil => Seq(e) // unpartitioned dir: classify whole
            case own => leafDirs(new Path(tableDir(table), e), own.length)
              .map(l => s"$e/$l")
          }
        }
      val sums = dirSummaries(table) // once per operation, not per entry
      val (touched, clean) = entries.partition(e => matchingFiles(table, e, conjuncts, sums).nonEmpty)
      val baseDeletes = snapshotDeletes(table).getOrElse(base.get, Seq.empty)
      if (touched.isEmpty) base.get // nothing can match: no-op commit-free
      else {
        val dels = tombstones(table, base.get)
        val byDataDir = touched.groupBy(_.takeWhile(_ != '/')).toSeq.sortBy(_._1)
        // tombstones must filter the rewrite input: the rewritten dir's
        // HIGHER sequence ends their applicability, so a missed
        // anti-join here would resurrect MoR-deleted rows
        val touchedRows = byDataDir.map { case (dataDir, dirEntries) =>
          applyTombstones(openDirGroup(table, dataDir, dirEntries), dataDir, dels)
        }.reduce(_.unionByName(_, allowMissingColumns = true))
        // SQL DELETE semantics: remove rows where pred is TRUE — a row
        // where pred evaluates to NULL (e.g. a NULL column under `===`)
        // SURVIVES. `where(not(pred))` would silently drop such rows
        // (NOT(NULL) = NULL filters them out), and inconsistently so:
        // the same row is kept whenever its file is stat-classified
        // clean and carried by reference.
        val survivors = touchedRows.where(coalesce(pred, lit(false)) =!= lit(true))
        val snap = reserveSnap(table)
        val dir = s"data-$snap"
        try {
          writeDataDir(survivors, table, dir, partitionBy)
          // a partitioned write of ZERO survivors leaves no parquet
          // files — committing the bare dir would break snapshot reads
          def hasParquet(p: Path): Boolean =
            fs.listStatus(p).exists(s =>
              (s.isFile && s.getPath.getName.endsWith(".parquet")) ||
                (s.isDirectory && hasParquet(s.getPath)))
          if (hasParquet(new Path(tableDir(table), dir)))
            commit(table, snap, clean :+ dir, branch, Some(base), deletes = baseDeletes)
          else if (clean.nonEmpty) {
            val committed = commit(table, snap, clean, branch, Some(base), deletes = baseDeletes)
            fs.delete(new Path(tableDir(table), dir), true)
            committed
          } else {
            // every row deleted and nothing carried: a bare partitioned
            // dir (only _SUCCESS) would break snapshot reads, so
            // rewrite it as an empty UNPARTITIONED parquet dir — which
            // always writes one schema-bearing file
            writeDataDir(survivors.limit(0), table, dir, Nil)
            commit(table, snap, Seq(dir), branch, Some(base))
          }
        } catch { case e: Throwable => abortSnap(table, snap, dir); throw e }
      }
    }

  /** Copy-on-write UPDATE (the Iceberg `UPDATE t SET … WHERE …`
    * analog): rewrite ONLY the entries whose file stats say the
    * predicate may match — every provably-clean entry (and, when
    * partitioned, every clean partition leaf) carries into the new
    * snapshot by reference, byte-identical. All SET right-hand sides
    * evaluate against the ORIGINAL row in one projection (SQL
    * semantics: `SET a = b, b = a` swaps), values are cast back to the
    * column's declared type (no silent schema drift), and rows where
    * the predicate is NULL or false keep their values. */
  def updateWhere(assignments: Seq[(String, org.apache.spark.sql.Column)],
      pred: org.apache.spark.sql.Column, table: String,
      partitionBy: Seq[String] = Nil, branch: String = "main"): Long =
    retryingCommit(table, branch) { base =>
      import org.apache.spark.sql.functions.{coalesce, col, lit, when}
      val rawEntries = base.map(c => snapshots(table).find(_._1 == c).get._2)
        .getOrElse(throw new IllegalArgumentException(s"no such table: $table"))
      val conjuncts = Transforms.derivedConjuncts(
        skippableConjuncts(pred, readBase(table, base)),
        snapshotPhysLayouts(table, rawEntries))
      // per-dir OWN layout, as in [[deleteWhere]] (partition evolution)
      val entries =
        if (partitionBy.isEmpty) rawEntries
        else rawEntries.flatMap { e =>
          if (e.contains("/")) Seq(e)
          else dirLayout(table, e) match {
            case Nil => Seq(e)
            case own => leafDirs(new Path(tableDir(table), e), own.length)
              .map(l => s"$e/$l")
          }
        }
      val sums = dirSummaries(table) // once per operation, not per entry
      val (touched, clean) = entries.partition(e => matchingFiles(table, e, conjuncts, sums).nonEmpty)
      val baseDeletes = snapshotDeletes(table).getOrElse(base.get, Seq.empty)
      if (touched.isEmpty) base.get // stats prove nothing can match: no-op
      else {
        val dels = tombstones(table, base.get)
        val byDataDir = touched.groupBy(_.takeWhile(_ != '/')).toSeq.sortBy(_._1)
        val touchedRows = byDataDir.map { case (dataDir, dirEntries) =>
          applyTombstones(openDirGroup(table, dataDir, dirEntries), dataDir, dels)
        }.reduce(_.unionByName(_, allowMissingColumns = true))
        val byName = assignments.toMap
        val unknown = byName.keySet -- touchedRows.columns.toSet
        require(unknown.isEmpty, s"UPDATE sets unknown column(s): ${unknown.mkString(", ")}")
        val cond = coalesce(pred, lit(false))
        val updated = touchedRows.select(touchedRows.schema.fields.map { f =>
          byName.get(f.name) match {
            case Some(e) => when(cond, e.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
            case None => col(f.name)
          }
        }.toSeq: _*)
        val snap = reserveSnap(table)
        val dir = s"data-$snap"
        try {
          writeDataDir(updated, table, dir, partitionBy)
          commit(table, snap, clean :+ dir, branch, Some(base), deletes = baseDeletes)
        } catch { case e: Throwable => abortSnap(table, snap, dir); throw e }
      }
    }

  /** Predicate-driven MERGE-ON-READ delete: record the (file, row
    * position) of every row the predicate matches as a POSITIONAL
    * tombstone (`_deletes-<snap>` with columns `__file`, `__pos`) —
    * zero data files rewritten, arbitrary predicates (not just keys).
    * The scan that finds positions is itself stat-pruned (only files
    * whose min/max may match are opened) and tombstone-filtered
    * (already-deleted rows don't re-tombstone). Readers anti-join on
    * the scan's `_metadata` path + row index; file paths are immutable
    * once written, so later appends are untouched by construction, and
    * [[compact]] materializes positions away like any tombstone. The
    * copy-on-write [[deleteWhere]] remains the read-optimized path —
    * this is the write-optimized one for hot tables. */
  def deleteWhereMor(pred: org.apache.spark.sql.Column, table: String,
      branch: String = "main"): Long =
    retryingCommit(table, branch) { base =>
      import org.apache.spark.sql.functions.col
      val entries = base.map(c => snapshots(table).find(_._1 == c).get._2)
        .getOrElse(throw new IllegalArgumentException(s"no such table: $table"))
      val prevDeletes = snapshotDeletes(table).getOrElse(base.get, Seq.empty)
      val conjuncts = Transforms.derivedConjuncts(
        skippableConjuncts(pred, readBase(table, base)),
        snapshotPhysLayouts(table, entries))
      val dels = tombstones(table, base.get)
      val sums = dirSummaries(table) // once per operation, not per entry
      val byDataDir = entries.groupBy(_.takeWhile(_ != '/')).toSeq.sortBy(_._1)
      val hits = byDataDir.flatMap { case (dataDir, dirEntries) =>
        val files = dirEntries.flatMap(matchingFiles(table, _, conjuncts, sums)).distinct
        if (files.isEmpty) None
        else Some(
          applyTombstones(openDirGroup(table, dataDir, files), dataDir, dels)
            .where(pred)
            .select(
              col("_metadata.file_path").as("__file"),
              col("_metadata.row_index").as("__pos")))
      }
      if (hits.isEmpty) base.get // stats prove nothing can match: no-op
      else {
        val snap = reserveSnap(table)
        val dir = s"_deletes-$snap"
        try {
          hits.reduce(_.unionByName(_)).write.mode(SaveMode.Overwrite)
            .parquet(new Path(tableDir(table), dir).toString)
          commit(table, snap, entries, branch, Some(base), deletes = prevDeletes :+ dir)
        } catch { case e: Throwable => abortSnap(table, snap, dir); throw e }
      }
    }

  /** MERGE-ON-READ `UPDATE` (Iceberg v2 update-as-delta): matched rows
    * are POSITIONALLY tombstoned and their updated images append as a
    * new data dir — ONE snapshot, ZERO existing data files rewritten,
    * so a point update in a hot partition costs O(matched rows), not a
    * partition rewrite. The tombstone and the delta share the
    * snapshot's sequence, and tombstones apply only to LOWER
    * sequences — the tombstone can never swallow the updated rows it
    * ships with. SET expressions read the ORIGINAL row values
    * (standard UPDATE); a row where the predicate is NULL survives
    * untouched; file stats classify dirs so an update that provably
    * misses a dir never reads it. The matched set is scanned twice
    * (tombstone positions + updated images) — deterministic over
    * immutable committed files, and matched-rows-sized, so the double
    * scan is point-update-cheap while every data file stays in place.
    * [[compact]] materializes the delta away, as with MoR deletes. */
  def updateWhereMor(assignments: Seq[(String, org.apache.spark.sql.Column)],
      pred: org.apache.spark.sql.Column, table: String,
      partitionBy: Seq[String] = Nil, branch: String = "main"): Long =
    retryingCommit(table, branch) { base =>
      import org.apache.spark.sql.functions.{coalesce, col, lit}
      val entries = base.map(c => snapshots(table).find(_._1 == c).get._2)
        .getOrElse(throw new IllegalArgumentException(s"no such table: $table"))
      val prevDeletes = snapshotDeletes(table).getOrElse(base.get, Seq.empty)
      val target = readBase(table, base)
      val conjuncts = Transforms.derivedConjuncts(
        skippableConjuncts(pred, target),
        snapshotPhysLayouts(table, entries))
      val dels = tombstones(table, base.get)
      val sums = dirSummaries(table) // once per operation, not per entry
      val byDataDir = entries.groupBy(_.takeWhile(_ != '/')).toSeq.sortBy(_._1)
      val hits = byDataDir.flatMap { case (dataDir, dirEntries) =>
        val files = dirEntries.flatMap(matchingFiles(table, _, conjuncts, sums)).distinct
        if (files.isEmpty) None
        else Some(
          applyTombstones(openDirGroup(table, dataDir, files), dataDir, dels)
            .where(coalesce(pred, lit(false)) === lit(true)))
      }
      if (hits.isEmpty) base.get // stats prove nothing can match: no-op
      else {
        val matched = hits.reduce(_.unionByName(_, allowMissingColumns = true))
        val setMap = assignments.toMap
        val updated = matched.select(matched.columns.toSeq.map(c =>
          setMap.get(c).map(_.as(c)).getOrElse(col(c))): _*)
        val positions = hits.map(_.select(
            col("_metadata.file_path").as("__file"),
            col("_metadata.row_index").as("__pos")))
          .reduce(_.unionByName(_))
        val snap = reserveSnap(table)
        val delDir = s"_deletes-$snap"
        val dataDir = s"data-$snap"
        try {
          positions.write.mode(SaveMode.Overwrite)
            .parquet(new Path(tableDir(table), delDir).toString)
          // the delta takes the table's declared layout: an
          // unpartitioned delta on a days(ts) table would forfeit
          // partition pruning for every read until compaction
          writeDataDir(updated, table, dataDir, partitionBy)
          commit(table, snap, entries :+ dataDir, branch, Some(base),
            deletes = prevDeletes :+ delDir)
        } catch {
          case e: Throwable =>
            abortSnap(table, snap, dataDir)
            fs.delete(new Path(tableDir(table), delDir), true)
            throw e
        }
      }
    }

  /** MERGE … WHEN MATCHED THEN DELETE: target rows whose key matches a
    * source row are removed (the Iceberg v2 merge-delete shape). The
    * whole table anti-joins against the (small, distinct) key set —
    * broadcast-able at scale; rewrite is one new snapshot. */
  def deleteByKey(source: DataFrame, table: String, keyCols: Seq[String],
      partitionBy: Seq[String] = Nil, branch: String = "main"): Long =
    retryingCommit(table, branch) { base =>
      val keep = readBase(table, base).join(
        source.select(keyCols.map(source(_)): _*).distinct(), keyCols, "left_anti")
      val snap = reserveSnap(table)
      val dir = s"data-$snap"
      try {
        writeDataDir(keep, table, dir, partitionBy)
        commit(table, snap, Seq(dir), branch, Some(base))
      } catch { case e: Throwable => abortSnap(table, snap, dir); throw e }
    }

  // ---- schema evolution (the Iceberg ALTER TABLE column surface) ----
  //
  // Schema changes are METADATA-ONLY snapshot commits: a `_schemas
  // .jsonl` line records the full declared schema (and any rename)
  // effective FROM a snapshot id, and the commit references the same
  // data dirs as its base — no data file is touched. Reads conform
  // each data dir to the declared schema in effect at the read
  // snapshot ([[alignToDeclared]]): added columns surface as typed
  // NULLs until a write fills them, dropped columns disappear,
  // renames apply to dirs written before the rename. Time travel
  // below the evolution snapshot sees the OLD schema, exactly like
  // Iceberg's schema-id-per-snapshot rule. (The reference gets all of
  // this from Iceberg DDL on its catalog tables — the capability
  // behind mongo_to_iceberg.py:140's evolving document schemas.)
  //
  // Name-based resolution (not Iceberg's field ids) — safe because
  // re-using ANY historical column name is refused: resurrecting an
  // old physical column's values under a recycled name is this
  // design's one hazard, so [[takenNames]] closes it loudly.

  private def schemasPath(table: String) = new Path(tableDir(table), "_schemas.jsonl")
  private val SchemaEvoLine =
    """\{"snap":(\d+),"schema":"(.*)","renames":\[([^\]]*)\]\}""".r

  /** Parsed `_schemas.jsonl`: (effective-from snapshot, declared
    * schema, renames introduced at that snapshot), in commit order. */
  private def schemaLines(table: String): Seq[(Long, org.apache.spark.sql.types.StructType,
      Seq[(String, String)])] =
    readLines(schemasPath(table)).flatMap {
      case SchemaEvoLine(s, sch, ren) =>
        scala.util.Try {
          val st = org.apache.spark.sql.types.DataType.fromJson(unesc(sch))
            .asInstanceOf[org.apache.spark.sql.types.StructType]
          val renames = """"([^">]*)>([^"]*)"""".r.findAllMatchIn(ren)
            .map(m => (unesc(m.group(1)), unesc(m.group(2)))).toSeq
          (s.toLong, st, renames)
        }.toOption
      case _ => None
    }

  /** The declared (evolved) schema in effect when reading `snap`;
    * None for tables that never evolved (physical schemas rule). */
  def declaredSchema(table: String, snap: Long): Option[org.apache.spark.sql.types.StructType] =
    schemaLines(table).filter(_._1 <= snap).lastOption.map(_._2)

  /** The table's current read schema on `branch`, from metadata alone
    * whenever the per-dir schema records allow ([[metaSchema]]) — one
    * manifest read, zero data-dir opens. */
  def tableSchema(table: String, branch: String = "main"): org.apache.spark.sql.types.StructType = {
    val snap = currentSnapshot(table, branch)
      .getOrElse(throw new IllegalArgumentException(s"no such table/branch: $table@$branch"))
    val entries = snapshots(table).find(_._1 == snap).get._2
    metaSchema(table, entries, snap).getOrElse(read(table, branch).schema)
  }

  /** The snapshot's read schema from METADATA ALONE: the declared
    * schema when the table evolved, else the per-dir `_schema.json`
    * writer records merged by name (first occurrence fixes the type;
    * later dirs may only ADD columns). None when any dir lacks a
    * record or two dirs disagree on a column's type — the caller then
    * resolves schema the ordinary way. Derived `_p_…` layout columns
    * are dropped, matching every read path. */
  private def metaSchema(table: String, entries: Seq[String],
      snap: Long): Option[org.apache.spark.sql.types.StructType] =
    declaredSchema(table, snap).orElse {
      import org.apache.spark.sql.types.StructType
      val dirs = entries.map(_.takeWhile(_ != '/')).distinct.sorted
      val perDir = dirs.map(dirSchema(table, _))
      if (perDir.isEmpty || perDir.exists(_.isEmpty)) None
      else {
        val fields = scala.collection.mutable.LinkedHashMap
          .empty[String, org.apache.spark.sql.types.StructField]
        var ok = true
        perDir.flatten.foreach(st => st.fields.foreach { f =>
          fields.get(f.name) match {
            case None => fields(f.name) = f
            // compare MODULO NULLABILITY: array/struct types EMBED
            // containsNull / field-nullable flags, and two writers of
            // the same logical shape routinely disagree on them (a
            // CREATE marker's declared schema vs an INSERT's analyzed
            // one) — catalogString renders the shape without them.
            // KEEP the MOST PERMISSIVE nullability of the agreeing
            // shapes (r16): keeping the first-seen type could pin
            // containsNull=false while a later dir actually holds null
            // elements, and conformColumn's cast to that narrower type
            // fails analysis at read time (Cast refuses narrowing).
            case Some(prev) =>
              if (prev.dataType.catalogString != f.dataType.catalogString) ok = false
              else fields(f.name) = prev.copy(
                dataType = Lakehouse.mostPermissive(prev.dataType, f.dataType),
                nullable = prev.nullable || f.nullable)
          }
        })
        if (!ok) None
        else Some(StructType(fields.values.filterNot(_.name.startsWith("_p_")).toSeq))
      }
    }

  /** SCHEMA EVOLUTION at read: apply the renames committed after this
    * dir was written (dirs written after a rename already carry the
    * new name), then conform to the declared schema in effect at the
    * read snapshot — missing columns become typed NULLs, undeclared
    * (dropped) columns are projected away, order follows the
    * declaration. A pure projection per dir: no-op for never-evolved
    * tables, no shuffle ever, and `_metadata` still resolves through
    * it for positional tombstones. */
  private def alignToDeclared(table: String, dataDir: String, df: DataFrame,
      asOf: Option[Long]): DataFrame = {
    val lines = schemaLines(table)
    if (lines.isEmpty) return df
    import org.apache.spark.sql.functions.{col, lit}
    val snap = asOf.getOrElse(Long.MaxValue)
    val dirSeq = scala.util.Try(
      dataDir.stripPrefix("data-").toLong).getOrElse(Long.MaxValue)
    val rens = lines.filter(l => l._1 > dirSeq && l._1 <= snap).flatMap(_._3)
    lines.filter(_._1 <= snap).lastOption.map(_._2) match {
      case None => // travel below the first declaration: physical
        // schemas rule, only (top-level) renames could apply — and the
        // filter above made them empty too (renames ride declarations)
        rens.foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) }
      case Some(declared) =>
        def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
        val have = df.schema.fields.map(f => lc(f.name) -> f).toMap
        df.select(declared.fields.toSeq.map { f =>
          // the dir's physical TOP-LEVEL name for this declared column
          // (renames fold prefix-aware, so nested renames under it
          // resolve inside conformColumn with the same pair list)
          val physTop = NestedSchema.revPath(rens, f.name)
          have.get(lc(physTop)) match {
            // a dir written before the column: its EXISTS_DEFAULT when
            // declared (ADD COLUMN ... DEFAULT), else a typed NULL
            case None => ColumnDefaults.fillColumn(f).as(f.name)
            // identical type and no struct rebuild due: hand the
            // column through untouched (keeps parquet pushdown alive)
            case Some(pf) =>
              NestedSchema.conformColumn(col(pf.name), pf.dataType,
                f.dataType, f.name, rens).as(f.name)
          }
        }: _*)
    }
  }

  /** Every column name this table has EVER declared — current fields,
    * all historical schema-line fields, and the physical columns of
    * the base snapshot's dirs. ADD/RENAME refuse these: name-based
    * resolution would resurrect a dropped/renamed column's old data. */
  private def takenNames(table: String, entries: Seq[String],
      declared: org.apache.spark.sql.types.StructType): Set[String] = {
    def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    // FULL dotted paths, structs recursed: uniqueness is per struct
    // scope (`a.id` and `b.id` coexist; re-adding a dropped `a.id`
    // refuses). Top-level names are the depth-1 paths, so every
    // existing top-level check reads this set unchanged.
    (NestedSchema.flatPaths(declared) ++
      schemaLines(table).flatMap(l => NestedSchema.flatPaths(l._2)) ++
      entries.map(_.takeWhile(_ != '/')).distinct
        .flatMap(d => dirSchema(table, d).toSeq.flatMap(st =>
          NestedSchema.flatPaths(st)))
    ).map(lc).toSet
  }

  private def appendSchemaLine(table: String, snap: Long,
      schema: org.apache.spark.sql.types.StructType,
      renames: Seq[(String, String)]): Unit = tableLock(table).synchronized {
    val ren = renames.map { case (o, n) => s""""${jsonEsc(o)}>${jsonEsc(n)}"""" }
      .mkString(",")
    val line = s"""{"snap":$snap,"schema":"${jsonEsc(schema.json)}","renames":[$ren]}"""
    writeFile(schemasPath(table),
      (readLines(schemasPath(table)) :+ line).mkString("\n") + "\n")
  }

  private def removeSchemaLine(table: String, snap: Long): Unit =
    tableLock(table).synchronized {
      writeFile(schemasPath(table),
        readLines(schemasPath(table))
          .filterNot(_.startsWith(s"""{"snap":$snap,""")).mkString("\n") + "\n")
    }

  /** Shared evolution commit: `change` maps the current declared
    * schema to (next schema, renames introduced). The schema line is
    * written before the manifest commit and rolled back on conflict —
    * a dangling line for a never-committed snap id would otherwise be
    * adopted by that id's eventual owner. */
  private def evolveSchema(table: String, branch: String)
      (change: (org.apache.spark.sql.types.StructType, Seq[String]) =>
        (org.apache.spark.sql.types.StructType, Seq[(String, String)])): Long =
    retryingCommit(table, branch) { base =>
      val entries = base.map(c => snapshots(table).find(_._1 == c).get._2)
        .getOrElse(throw new IllegalArgumentException(s"no such table: $table"))
      val prevDeletes = snapshotDeletes(table).getOrElse(base.get, Seq.empty)
      val declared = declaredSchema(table, base.get)
        .getOrElse(readSnapshot(table, base.get).schema)
      val (next, renames) = change(declared, entries)
      val snap = reserveSnap(table)
      try {
        appendSchemaLine(table, snap, next, renames)
        commit(table, snap, entries, branch, Some(base), deletes = prevDeletes)
      } catch {
        case e: Throwable =>
          removeSchemaLine(table, snap)
          fs.delete(reserveMarker(table, snap), false)
          throw e
      }
    }

  /** One validated evolution change over an (intermediate) declared
    * schema: (current declared, snapshot entries) → (next declared,
    * renames introduced). The unit [[alterSchemaGrouped]] folds so a
    * multi-change `ALTER TABLE` commits ONE snapshot (Iceberg's
    * grouped commit — no torn window between changes). */
  private[graft] type SchemaStep =
    (org.apache.spark.sql.types.StructType, Seq[String]) =>
      (org.apache.spark.sql.types.StructType, Seq[(String, String)])

  /** Apply several evolution steps as ONE metadata snapshot. Steps
    * validate against the INTERMEDIATE schema in statement order
    * (`ADD COLUMNS (x int), RENAME COLUMN x TO y` works; every
    * validation that consults historical names sees the fold's current
    * schema), and all introduced renames land on the single schema
    * line in order — the readers' forward/reverse mapping folds are
    * order-preserving within a line, so chained renames resolve
    * exactly as two separate commits would. */
  private[graft] def alterSchemaGrouped(table: String, steps: Seq[SchemaStep],
      branch: String = "main"): Long = {
    require(steps.nonEmpty, "ALTER TABLE needs at least one change")
    evolveSchema(table, branch) { (declared, entries) =>
      steps.foldLeft(
        (declared, Seq.empty[(String, String)])) { case ((cur, rens), step) =>
        val (next, r) = step(cur, entries)
        // each step validates against the INTERMEDIATE schema, but
        // takenNames only sees on-disk history + that schema — a name
        // renamed AWAY earlier in this group has left both, so a later
        // step could re-introduce it and make the single committed
        // schema line ambiguous for pre-group dirs (the rename line
        // and the new physical column would both claim it). Union the
        // group's accumulated rename from-names into the check here.
        def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
        val froms = rens.map(p => lc(p._1)).toSet
        val reAdded = next.fieldNames.find(n =>
          froms.contains(lc(n)) && !cur.fieldNames.exists(c => lc(c) == lc(n)))
        require(reAdded.isEmpty,
          s"cannot introduce column ${reAdded.getOrElse("")}: an earlier change " +
            "in this ALTER renamed that name away — recycling it in the same " +
            "grouped commit would be ambiguous for pre-commit data")
        (next, rens ++ r)
      }
    }
  }

  /** `ALTER TABLE t ADD COLUMNS (…)` — additive-only evolution as a
    * metadata snapshot. Added columns must be nullable (existing rows
    * read NULL) and must not re-use any name the table ever had; type
    * changes are refused by construction (there is no surface that
    * narrows or rewrites an existing column). */
  def addColumns(table: String, cols: org.apache.spark.sql.types.StructType,
      branch: String = "main"): Long =
    evolveSchema(table, branch)(addColumnsStep(table, cols))

  private[graft] def addColumnsStep(table: String,
      cols: org.apache.spark.sql.types.StructType): SchemaStep = {
    require(cols.nonEmpty, "ADD COLUMNS needs at least one column")
    (declared, entries) => {
      val taken = takenNames(table, entries, declared)
      cols.fields.foreach { f =>
        // an ADD ... DEFAULT validates its literal NOW (commit-time
        // loudness beats a read-time parse failure) and may be
        // non-nullable: no row ever reads NULL from it
        ColumnDefaults.currentSql(f).foreach(sql =>
          ColumnDefaults.literalFor(sql, f.dataType, f.name))
        require(f.nullable || ColumnDefaults.currentSql(f).nonEmpty,
          s"added column ${f.name} must be nullable or carry a DEFAULT: " +
            "existing rows read NULL otherwise")
        require(!taken.contains(f.name.toLowerCase(java.util.Locale.ROOT)),
          s"column ${f.name} already exists (or once existed) in $table; " +
            "only new names can be added — a recycled name would resurrect old data")
      }
      val dup = cols.fieldNames.groupBy(_.toLowerCase(java.util.Locale.ROOT))
        .collectFirst { case (_, ns) if ns.length > 1 => ns.head }
      require(dup.isEmpty, s"duplicate column in ADD COLUMNS: ${dup.getOrElse("")}")
      // DOTTED names are NESTED adds (`shipping_address.country`):
      // the new field appends to its parent STRUCT — a metadata-only
      // change like the top-level form; dirs written before it read
      // NULL there through the struct conform. The taken-path check
      // above already ran against the FULL dotted path (takenNames
      // flattens struct scopes), so recycled nested names refuse too.
      val (nested, top) = cols.fields.partition(_.name.contains('.'))
      val withTop =
        org.apache.spark.sql.types.StructType(declared.fields ++ top)
      val next = nested.foldLeft(withTop) { (sch, f) =>
        val segs = NestedSchema.split(f.name)
        NestedSchema.parentAt(sch, segs.init, table) // validates crossings
        NestedSchema.updateParent(sch, segs.init) { st =>
          require(!st.fields.exists(_.name.equalsIgnoreCase(segs.last)),
            s"column ${f.name} already exists in $table")
          org.apache.spark.sql.types.StructType(
            st.fields :+ f.copy(name = segs.last))
        }
      }
      (next, Nil)
    }
  }

  /** `ALTER TABLE t RENAME COLUMN a TO b` — metadata snapshot; dirs
    * written before it are renamed at read, dirs after carry the new
    * name physically. Refused for partition-layout source columns
    * (the registered spec addresses them by name) and for any name
    * the table ever used. */
  def renameColumn(table: String, from: String, to: String,
      branch: String = "main"): Long =
    evolveSchema(table, branch)(renameColumnStep(table, from, to))

  private[graft] def renameColumnStep(table: String, from: String,
      to: String): SchemaStep = (declared, entries) => {
    def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    require(!to.contains('.'),
      s"RENAME COLUMN takes a SIMPLE new name, got $to — a rename stays " +
        "inside its struct scope (Iceberg's rule; moving a field between " +
        "structs would need a data rewrite)")
    if (from.contains('.')) {
      // NESTED rename: same-scope, recorded as a pair of FULL dotted
      // paths the readers' prefix-aware rename folds resolve
      val segs = NestedSchema.split(from)
      val parent = NestedSchema.parentAt(declared, segs.init, table)
      val f = parent.fields.find(x => lc(x.name) == lc(segs.last))
        .getOrElse(throw new IllegalArgumentException(
          s"$table has no column $from to rename"))
      val toPath = (segs.init :+ to).mkString(".")
      require(!takenNames(table, entries, declared).contains(lc(toPath)),
        s"cannot rename $from to $to: $table already used that name there")
      require(!layoutSourcesOf(table).contains(lc(segs.head)),
        s"cannot rename under ${segs.head}: it is a partition-layout source " +
          "column (ALTER ... SET PARTITION SPEC first)")
      val next = NestedSchema.updateParent(declared, segs.init) { st =>
        org.apache.spark.sql.types.StructType(
          st.fields.map(x => if (x eq f) x.copy(name = to) else x))
      }
      (next, Seq((segs.init :+ f.name).mkString(".") -> toPath))
    } else {
      val f = declared.fields.find(x => lc(x.name) == lc(from))
        .getOrElse(throw new IllegalArgumentException(
          s"$table has no column $from to rename"))
      require(!takenNames(table, entries, declared).contains(lc(to)),
        s"cannot rename $from to $to: $table already used that name")
      val layoutSources = layoutSourcesOf(table)
      require(!layoutSources.contains(lc(from)),
        s"cannot rename $from: it is a partition-layout source column " +
          s"(ALTER ... SET PARTITION SPEC first)")
      (org.apache.spark.sql.types.StructType(
        declared.fields.map(x => if (x eq f) x.copy(name = to) else x)),
        Seq(f.name -> to))
    }
  }

  /** `ALTER TABLE t DROP COLUMN c` — metadata snapshot: the column
    * vanishes from reads and writes; old data stays in place (time
    * travel below the drop still shows it) and the name can never be
    * re-used. Refused for partition-layout source columns. */
  def dropColumn(table: String, name: String, branch: String = "main"): Long =
    evolveSchema(table, branch)(dropColumnStep(table, name, branch))

  private[graft] def dropColumnStep(table: String, name: String,
      branch: String): SchemaStep = (declared, _) => {
      def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
      val segs = NestedSchema.split(name)
      val nested = segs.length > 1
      if (nested) {
        // NESTED drop: the field vanishes from its parent struct —
        // metadata-only, old data stays, travel below still shows it
        val parent = NestedSchema.parentAt(declared, segs.init, table)
        require(parent.fields.exists(x => lc(x.name) == lc(segs.last)),
          s"$table has no column $name to drop")
        require(parent.fields.length > 1,
          s"cannot drop $name: it is the only field of its struct — " +
            s"drop ${segs.init.mkString(".")} instead")
      } else {
        require(declared.fields.exists(x => lc(x.name) == lc(name)),
          s"$table has no column $name to drop")
        require(declared.fields.length > 1,
          s"cannot drop $name: it is the only column of $table")
      }
      require(!layoutSourcesOf(table).contains(lc(segs.head)),
        s"cannot drop $name: it is (under) a partition-layout source column " +
          s"(ALTER ... SET PARTITION SPEC first)")
      // a LIVE equality tombstone keyed on this column would become
      // unapplicable — the aligned data the anti-join runs against
      // loses the key, silently resurrecting deleted rows. Refuse
      // until a compaction materializes the deletes. (Positional
      // tombstones are name-free and unaffected.)
      currentSnapshot(table, branch).foreach { snap =>
        snapshotDeletes(table).getOrElse(snap, Seq.empty).foreach { d =>
          val seq = d.stripPrefix("_deletes-").toLong
          val st = readTombstoneDir(table, d).schema
          if (st.fieldNames.toSeq != Seq("__file", "__pos")) {
            val renames = schemaLines(table)
              .filter(l => l._1 > seq && l._1 <= snap).flatMap(_._3)
            val mappedKeys = st.fieldNames.toSeq.map(n0 =>
              renames.foldLeft(n0) { case (cur, (from, to)) =>
                if (from.equalsIgnoreCase(cur)) to else cur
              })
            // a nested drop guards its ROOT: a struct-typed equality
            // key whose inside changes shape would desync the
            // canonical key comparison
            require(!mappedKeys.exists(k => lc(k) == lc(segs.head)),
              s"cannot drop $name: a live merge-on-read equality tombstone ($d) " +
                "keys on it — compact() to materialize the deletes first")
          }
        }
      }
      if (nested)
        (NestedSchema.updateParent(declared, segs.init) { st =>
          org.apache.spark.sql.types.StructType(
            st.fields.filterNot(x => lc(x.name) == lc(segs.last)))
        }, Nil)
      else
        (org.apache.spark.sql.types.StructType(
          declared.fields.filterNot(x => lc(x.name) == lc(name))), Nil)
    }

  /** `ALTER TABLE t ALTER COLUMN c TYPE <wider>` — WIDENING type
    * promotion as a metadata snapshot (Iceberg's safe promotions, and
    * only those): int→bigint, float→double, decimal(p,s)→decimal(P,s)
    * with P ≥ p. Existing dirs keep their physical type and up-cast at
    * read ([[alignToDeclared]]'s widening branch); new writes take the
    * promoted type; time travel below the commit sees the old type.
    * Anything else — narrowing, cross-family, scale changes — is
    * refused: those would need a data rewrite to stay sound. Layout
    * source columns refuse promotion too (the transform's derived
    * values must stay stable against the written tree). */
  def alterColumnType(table: String, name: String,
      newType: org.apache.spark.sql.types.DataType, branch: String = "main"): Long =
    evolveSchema(table, branch)(alterColumnTypeStep(table, name, newType))

  /** `ALTER TABLE t ALTER COLUMN c FIRST | AFTER b` (and the position
    * leg of `ADD COLUMNS (x int FIRST)`) — a pure REORDER of the
    * declared schema as a metadata snapshot: no rename, no type
    * change, no data movement. Every reader already conforms each dir
    * BY NAME into declared order (`alignToDeclared` / the SPJ
    * per-variant ordinals), so committed dirs of any physical order
    * keep serving; positional consumers (positional `INSERT INTO`,
    * `SELECT *`) see the new order from the commit on — SQL's
    * contract; time travel below the commit sees the old order. */
  private[graft] def moveColumnStep(table: String, name: String,
      position: org.apache.spark.sql.connector.catalog.TableChange.ColumnPosition)
      : SchemaStep = (declared, _) => {
    import org.apache.spark.sql.connector.catalog.TableChange
    def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val segs = NestedSchema.split(name)
    def reorder(scope: org.apache.spark.sql.types.StructType, leaf: String)
        : org.apache.spark.sql.types.StructType = {
      val f = scope.fields.find(x => lc(x.name) == lc(leaf))
        .getOrElse(throw new IllegalArgumentException(
          s"$table has no column $name to move"))
      val rest = scope.fields.filterNot(_ eq f)
      val next = position match {
        case _: TableChange.First => f +: rest
        case a: TableChange.After =>
          val i = rest.indexWhere(x => lc(x.name) == lc(a.column()))
          require(i >= 0,
            s"$table has no column ${a.column()} to position $name after")
          (rest.take(i + 1) :+ f) ++ rest.drop(i + 1)
        case other => throw new UnsupportedOperationException(
          s"unsupported column position ${other.getClass.getSimpleName}")
      }
      org.apache.spark.sql.types.StructType(next)
    }
    if (segs.length > 1) {
      NestedSchema.parentAt(declared, segs.init, table)
      (NestedSchema.updateParent(declared, segs.init)(reorder(_, segs.last)), Nil)
    } else (reorder(declared, name), Nil)
  }

  private[graft] def alterColumnTypeStep(table: String, name: String,
      newType: org.apache.spark.sql.types.DataType): SchemaStep = (declared, _) => {
      import org.apache.spark.sql.types._
      def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
      val segs = NestedSchema.split(name)
      val scope = NestedSchema.parentAt(declared, segs.init, table)
      val f = scope.fields.find(x => lc(x.name) == lc(segs.last))
        .getOrElse(throw new IllegalArgumentException(
          s"$table has no column $name to promote"))
      val widens = (f.dataType, newType) match {
        case (a, b) if a == b => false // no-op promotion is a user error
        case (IntegerType, LongType) => true
        case (FloatType, DoubleType) => true
        case (a: DecimalType, b: DecimalType) =>
          b.precision >= a.precision && a.scale == b.scale
        case _ => false
      }
      require(widens,
        s"cannot promote $name from ${f.dataType.simpleString} to " +
          s"${newType.simpleString}: only int->bigint, float->double and " +
          "decimal precision widening are metadata-safe (Iceberg's rule)")
      require(!layoutSourcesOf(table).contains(lc(segs.head)),
        s"cannot promote $name: it is (under) a partition-layout source " +
          "column (ALTER ... SET PARTITION SPEC first)")
      // a LIVE equality tombstone keyed on the promoted column (or the
      // root of a nested promotion) keeps serving: [[SpjLayout
      // .canonKey]] widens integral/floating families into one
      // canonical comparison domain, and the ordinary path's anti-join
      // runs over the ALIGNED (up-cast) data — same-domain equality
      // survives the promotion on both paths.
      (NestedSchema.updateParent(declared, segs.init) { st =>
        StructType(st.fields.map(x =>
          if (x eq f) x.copy(dataType = newType) else x))
      }, Nil)
    }

  /** Source columns of the table's registered partition layout
    * (registry first, persistent catalog as the cross-session
    * fallback), lowercase. */
  private def layoutSourcesOf(table: String): Set[String] =
    LakehouseRegistry.lookup(spark, table).map(_._2)
      .orElse(catalogEntries().find(_._1 == table).map(_._2))
      .getOrElse(Nil)
      .map(s => Transforms.parse(s).source.toLowerCase(java.util.Locale.ROOT)).toSet

  // ---- snapshot tags ----
  //
  // Named IMMUTABLE refs to snapshots (Iceberg tags): a release
  // pointer like 'v1.0' that survives branch movement and — unlike a
  // bare snapshot id — protects its snapshot from expiry.

  private def tagsPath(table: String) = new Path(tableDir(table), "_tags.jsonl")
  private val TagLine = """\{"tag":"(.*)","snap":(\d+)\}""".r

  def tags(table: String): Seq[(String, Long)] =
    readLines(tagsPath(table)).flatMap {
      case TagLine(t, s) => Some(unesc(t) -> s.toLong)
      case _ => None
    }

  /** Create an immutable tag; re-tagging an existing name is refused
    * (drop it first) — a tag that silently moved would defeat its
    * audit purpose. */
  def tagSnapshot(table: String, tag: String, snap: Long): Unit =
    tableLock(table).synchronized {
      require(snapshots(table).exists(_._1 == snap), s"$table has no snapshot $snap")
      require(!tags(table).exists(_._1 == tag),
        s"$table already has tag '$tag' (tags are immutable; dropTag first)")
      writeFile(tagsPath(table),
        (readLines(tagsPath(table)) :+ s"""{"tag":"${jsonEsc(tag)}","snap":$snap}""")
          .mkString("\n") + "\n")
    }

  def dropTag(table: String, tag: String): Unit = tableLock(table).synchronized {
    writeFile(tagsPath(table), readLines(tagsPath(table)).filterNot {
      case TagLine(t, _) => unesc(t) == tag
      case _ => false
    }.mkString("\n") + "\n")
  }

  /** Time travel to a tag. */
  def readTag(table: String, tag: String): DataFrame =
    readSnapshot(table, tags(table).find(_._1 == tag).map(_._2)
      .getOrElse(throw new IllegalArgumentException(s"$table has no tag '$tag'")))

  // ---- snapshot expiry / GC ----

  /** Expire old snapshots: keep the most recent `keepLast` plus every
    * snapshot a branch pointer references, drop the rest from the
    * manifest, and DELETE data dirs (or partition leaf dirs) no
    * surviving snapshot references. The `expire_snapshots` analog —
    * without it a long-lived table's history grows without bound.
    * Expired snapshots become unreadable; live branches and time
    * travel among kept snapshots are untouched. */
  def expireSnapshots(table: String, keepLast: Int): Unit = tableLock(table).synchronized {
    val snaps = snapshots(table)
    val branchRefs = branches(table).flatMap(b => currentSnapshot(table, b)).toSet
    // tagged snapshots are pinned releases — never expired (Iceberg's
    // retention rule for tags)
    val tagRefs = tags(table).map(_._2).toSet
    val keepIds = snaps.map(_._1).sorted.takeRight(math.max(keepLast, 1)).toSet ++
      branchRefs ++ tagRefs
    val kept = snaps.filter(s => keepIds.contains(s._1))
    val live = kept.flatMap(_._2).toSet
    // rewrite the manifest first (a crash after leaves only unreferenced
    // data behind, never a referenced-but-deleted dir); kept snapshots
    // keep their ORIGINAL lines — batch ids (exactly-once ledger) and
    // tombstone references must survive expiry
    val allLines = manifestLines(table)
    val lines = allLines.filter { line =>
      """"snap":(\d+)""".r.findFirstMatchIn(line).exists(m => keepIds.contains(m.group(1).toLong))
    }
    val liveDeletes = kept.flatMap(s => snapshotDeletes(table).getOrElse(s._1, Seq.empty)).toSet
    // Manifest-list summaries ride the line of the commit that
    // INTRODUCED a dir — which long-lived tables expire first while
    // the dir itself stays live (carried by reference). Dropping those
    // lines silently erases dir-level skipping exactly where it
    // matters (long append histories), so orphaned summaries of live
    // dirs are re-attached to the first kept line referencing them.
    val liveTop = live.map(_.takeWhile(_ != '/'))
    val SumObj = """\{"dir":"([^"]*)","col":".*?","t":"(?:long|double|string)","lo64":"[A-Za-z0-9_\-]*","hi64":"[A-Za-z0-9_\-]*"\}""".r
    val DirstatsField = ""","dirstats":\[.*\]""".r
    def sumsOf(line: String): Seq[(String, String)] =
      """"dirstats":\[(.*)\]""".r.findFirstMatchIn(line).toSeq.flatMap(m =>
        SumObj.findAllMatchIn(m.group(1)).map(g => (g.group(1), g.matched)))
    val covered = lines.flatMap(sumsOf).map(_._1).toSet
    val orphansByDir = allLines.flatMap(sumsOf)
      .filter { case (dir, _) => liveTop.contains(dir) && !covered.contains(dir) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val rescued = scala.collection.mutable.Set.empty[String]
    val patched = lines.map { line =>
      val snapDirs = """"dirs":\[([^\]]*)\]""".r.findFirstMatchIn(line).map(_.group(1))
        .getOrElse("").split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
        .filter(_.nonEmpty).map(_.takeWhile(_ != '/')).toSet
      val toAttach = orphansByDir.keys.filter(d => snapDirs.contains(d) && !rescued.contains(d)).toSeq.sorted
      if (toAttach.isEmpty) line
      else {
        rescued ++= toAttach
        val objs = toAttach.flatMap(orphansByDir(_))
        val stripped = DirstatsField.replaceFirstIn(line, "")
        val existing = sumsOf(line).map(_._2)
        val merged = (existing ++ objs).mkString(",")
        stripped.stripSuffix("}") + s""","dirstats":[$merged]}"""
      }
    }
    rewriteManifest(table, patched)
    // Unreferenced dirs with a LIVE _reserve-N marker are an in-flight
    // writer's (a MoR delete between tombstone write and commit, an
    // append between data write and commit) — expiring them would let
    // the subsequent commit reference deleted files. Skip them here
    // exactly as [[removeOrphans]] pass 2 does; they become ordinary
    // orphans if the writer dies.
    def inFlight(name: String): Boolean =
      fs.exists(new Path(tableDir(table),
        "_reserve-" + name.stripPrefix("data-").stripPrefix("_deletes-")))
    // tombstone dirs no kept snapshot references
    fs.listStatus(tableDir(table)).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith("_deletes-") && !liveDeletes.contains(name)
          && !inFlight(name))
        fs.delete(st.getPath, true)
    }
    val dataDirs = fs.listStatus(tableDir(table)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("data-"))
      .filterNot(s => inFlight(s.getPath.getName))
    dataDirs.foreach { d =>
      val name = d.getPath.getName
      if (live.contains(name)) () // whole dir referenced
      else {
        val leafRefs = live.filter(_.startsWith(name + "/")).map(_.stripPrefix(name + "/"))
        if (leafRefs.isEmpty) fs.delete(d.getPath, true)
        else
          // partially referenced: delete only the dead partition leaves
          leafDirs(d.getPath, depth = leafRefs.map(_.count(_ == '/') + 1).max)
            .filterNot(leafRefs.contains)
            .foreach(l => fs.delete(new Path(d.getPath, l), true))
      }
    }
  }

  /** Vacuum orphans (the `remove_orphan_files` analog): delete data
    * dirs NO manifest line references — the leavings of writers that
    * died between data write and commit — plus reservation markers
    * older than `staleMillis` (a live writer holds its marker only
    * for one write+commit). Never touches referenced data: committed
    * snapshots, branches, and time travel are unaffected. Returns the
    * deleted paths. */
  def removeOrphans(table: String, staleMillis: Long = 24L * 3600 * 1000): Seq[String] = {
    val now = System.currentTimeMillis()
    val removed = Seq.newBuilder[String]
    val listing = fs.listStatus(tableDir(table)).toSeq
    // Pass 1: stale reservation markers (a live writer holds its marker
    // only for one write+commit; older = a dead writer's leftovers).
    listing.foreach { st =>
      val name = st.getPath.getName
      if (st.isFile && name.startsWith("_reserve-")
          && now - st.getModificationTime > staleMillis) {
        fs.delete(st.getPath, false)
        removed += name
      }
    }
    // Pass 2: unreferenced data dirs — but NEVER one whose _reserve-N
    // marker still exists: a concurrent writer between writeDataDir and
    // commit holds a fresh marker while its dir is still unreferenced,
    // and vacuuming it would let the subsequent commit reference
    // deleted data (a corrupted table). The marker is deleted only
    // AFTER the manifest line lands, so re-reading the manifest at
    // delete time closes the marker-just-removed window too.
    val candidates = listing.filter { st =>
      val name = st.getPath.getName
      st.isDirectory && (name.startsWith("data-") || name.startsWith("_deletes-")) &&
        !fs.exists(new Path(tableDir(table),
          "_reserve-" + name.stripPrefix("data-").stripPrefix("_deletes-")))
    }
    if (candidates.nonEmpty) {
      // ONE manifest read for the whole candidate batch, taken AFTER
      // every marker check: a marker that vanished before its check
      // means the writer's manifest line was already durable (markers
      // drop only after the line lands), so this read still closes the
      // marker-just-removed window — without the old O(dirs × manifest
      // lines) re-read inside the loop.
      val dataRefs = snapshots(table).flatMap(_._2).map(_.takeWhile(_ != '/')).toSet
      val delRefs = snapshotDeletes(table).values.flatten.toSet
      candidates.foreach { st =>
        val name = st.getPath.getName
        val referenced =
          if (name.startsWith("data-")) dataRefs.contains(name) else delRefs.contains(name)
        if (!referenced && fs.exists(st.getPath)) {
          fs.delete(st.getPath, true)
          removed += name
        }
      }
    }
    removed.result()
  }

  // ---- SQL surface (SHOW TABLES / MERGE-shaped DML over views) ----

  /** Catalog listing — the `SHOW TABLES IN nessie.sales` analog
    * (reference: query_iceberg.ipynb): one row per lakehouse table
    * with its current snapshot, snapshot count, and branches. */
  def tablesDf(): DataFrame = {
    val mviews = MaterializedView.defs(this).map(_.view).toSet
    val rows = tableNames().map { t =>
      (t, currentSnapshot(t).getOrElse(-1L), snapshots(t).size.toLong,
        branches(t).mkString(","),
        if (mviews.contains(t)) "materialized_view" else "table")
    } ++ sqlViews().map { case (v, _) => (v, -1L, 0L, "", "view") }.sortBy(_._1)
    spark.createDataFrame(rows)
      .toDF("table_name", "current_snapshot", "n_snapshots", "branches", "type")
  }

  /** Every table directory under this lake root (manifest-bearing),
    * sorted — the listing behind `SHOW TABLES`. */
  def tableNames(): Seq[String] =
    fs.listStatus(new Path(root)).toSeq
      .filter(_.isDirectory).map(_.getPath.getName).sorted
      .filter(t => fs.exists(manifest(t)))

  /** The bucket / identity / identity+bucket spec the SPJ catalog
    * could serve `table` under, or None — the cheap servability probe
    * behind the catalog's `SHOW TABLES` (manifest + one dir-level
    * listing per data dir; never walks files). Mirrors [[spjLayout]]'s
    * strictness: merge-on-read tombstones and committed schema
    * evolution are each servable ALONE (the scan anti-filters /
    * conforms at read) but not together; mixed layouts, renamed
    * partition columns, unrecorded evolved dirs and other transform
    * shapes disqualify. Probes the branch head, or `atSnapshot` when
    * given (a time-travel read). */
  private[graft] def spjServableSpec(table: String, branch: String = "main",
      atSnapshot: Option[Long] = None): Option[Seq[String]] =
    atSnapshot.orElse(currentSnapshot(table, branch)).flatMap { snap =>
      // the probe prices one dir listing per data dir + one footer
      // read per tombstone dir — cached under the layout cache's
      // staleness-proof key so `SHOW TABLES` over a big catalog pays
      // it once per (table, snapshot), not once per listing
      val stamp = scala.util.Try {
        val st = fs.getFileStatus(catalogPath)
        (st.getModificationTime, st.getLen, Lakehouse.catalogEpoch.get)
      }.getOrElse((0L, 0L, Lakehouse.catalogEpoch.get))
      val committedAt = snapshotTimes(table).collectFirst {
        case (s, t) if s == snap => t
      }.getOrElse(0L)
      val key = (tableDir(table).toString, snap, committedAt, stamp, spjTombstoneGate)
      Lakehouse.spjProbeCache.synchronized {
        Option(Lakehouse.spjProbeCache.get(key))
      }.getOrElse {
        val probed = spjServableSpecUncached(table, snap)
        Lakehouse.spjProbeCache.synchronized {
          Lakehouse.spjProbeCache.put(key, probed)
        }
        probed
      }
    }

  private def spjServableSpecUncached(table: String, snap0: Long)
      : Option[Seq[String]] =
    for {
      snap <- Some(snap0)
      entries <- snapshots(table).find(_._1 == snap).map(_._2)
      if snapshotDeletes(table).getOrElse(snap, Seq.empty).isEmpty || {
          // tombstones serve when positional (any size — above the
          // broadcast gate they anti-join executor-side), or when
          // equality AND every key type carries a canonical comparison
          // domain (any size since r17 — above the gate the key set
          // materializes per executor; a key type that canonKey
          // would throw on refuses the LOAD, so the probe must not
          // advertise it) AND (no evolution, or every key
          // forward-maps into the declared schema canonically) — the
          // same gates spjLayout/spjTombstones enforce (one footer
          // read per tombstone dir, tombstones are few)
          val declared = declaredSchema(table, snap)
          snapshotDeletes(table).getOrElse(snap, Seq.empty).forall { d =>
            scala.util.Try {
              val st = readTombstoneDir(table, d).schema
              st.fieldNames.toSeq == Seq("__file", "__pos") || {
                st.fields.forall(f =>
                  SpjLayout.canonCompatible(f.dataType, f.dataType))
              } && (schemaLines(table).isEmpty || {
                val seq = d.stripPrefix("_deletes-").toLong
                val renames = schemaLines(table)
                  .filter(l => l._1 > seq && l._1 <= snap).flatMap(_._3)
                st.fields.forall { f =>
                  val mapped = renames.foldLeft(f.name) { case (cur, (from, to)) =>
                    if (from.equalsIgnoreCase(cur)) to else cur
                  }
                  declared.exists(_.fields.exists(df =>
                    df.name.equalsIgnoreCase(mapped) &&
                      SpjLayout.canonCompatible(f.dataType, df.dataType)))
                }
              })
            }.getOrElse(false)
          }
        }
      // evolved tables need every data dir's schema record and stable
      // partition-column names, or loadTable would refuse what SHOW
      // TABLES advertised
      if schemaLines(table).isEmpty || {
        val dataDirs = entries.map(_.takeWhile(_ != '/')).distinct
        dataDirs.forall(d => dirSchema(table, d).isDefined)
      }
      // can an IDENTITY level named `c` serve on the FLAT path? Its
      // path-borne value must re-inject under the declared schema:
      // same (never-renamed) name, decodable type — the exact gates
      // finishFlat enforces, so the probe never advertises what the
      // flat load would refuse
      // a RENAMED strip column serves since r15: the probe resolves
      // the dir-time physical name through the forward rename chain,
      // exactly like finishFlat does
      flatIdentityOk = (c: String) => {
        val decl = NestedSchema.fwdPath(
          schemaLines(table).filter(_._1 <= snap).flatMap(_._3), c)
        metaSchema(table, entries, snap).exists(_.fields.exists(f =>
          f.name.equalsIgnoreCase(decl) &&
            SpjLayout.supportedIdentityType(f.dataType)))
      }
      // every level either derived (`_p_…` spec form contains "(") or
      // a flat-servable identity — the flat scan's acceptance rule
      flatLevelOk = (s: String) => s.contains("(") || flatIdentityOk(s)
      specs <- {
        // zero-row schema-marker dirs (empty CREATE TABLE, fully-
        // emptied rewrites) don't constrain the layout — same rule as
        // [[spjLayout]]; a table that is ONLY markers serves empty
        // under its declared catalog spec
        val dirs = entries.map(_.takeWhile(_ != '/')).distinct
        def marker(d: String) = physDirLayout(table, d).isEmpty && {
          val rc = readRowCounts(table, d)
          rc.nonEmpty && rc.values.forall(_._1 == 0L)
        }
        dirs.filterNot(marker).map(d => physDirLayout(table, d)).distinct match {
          case Seq() => catalogEntries().collectFirst {
            case (t, spec) if t == table && spec.nonEmpty => Transforms.canon(spec)
          }
          case Seq(levels) => Some(levels.map(Transforms.specOfPhys))
          // MIXED layouts degrade to the flat scan: derived levels are
          // self-contained, identity levels re-inject their path-borne
          // value per file when the column still decodes under its
          // original declared name; the marker spec just flags
          // servability for the listing
          case many if many.forall(_.map(Transforms.specOfPhys).forall(flatLevelOk)) =>
            Some(Seq(SpjLayout.MixedSpec))
          case _ => None
        }
      }
      if (specs match {
        case Seq(SpjLayout.MixedSpec) => true
        // single level: bucket/identity take the SPJ path, any other
        // derived transform degrades to the flat scan — all servable
        case Seq(_) => true
        case Seq(p, s) =>
          ((!p.contains("(") ||
            p.matches("""(days|months|years|hours)\(.+\)""")) &&
            s.startsWith("bucket(")) ||
            // non-canonical two-level shapes: flat-servable when every
            // level is derived or a flat-servable identity
            (flatLevelOk(p) && flatLevelOk(s))
        // deeper chains: flat-servable under the same per-level rule
        case shapes => shapes.forall(flatLevelOk)
      })
      // identity levels must DECODE: the column must be in the
      // metadata-resolvable schema with a supported key type — or
      // loadTable would refuse the very table SHOW TABLES advertised
      // (flat-degrading mixed tables have no identity levels)
      if specs == Seq(SpjLayout.MixedSpec) ||
        specs.filterNot(_.contains("(")).forall { c =>
          metaSchema(table, entries, snap).exists(_.fields.exists(f =>
            f.name == c && SpjLayout.supportedIdentityType(f.dataType)))
        }
      // evolved tables: every partition column (identity, bucket key,
      // time-transform source) must still carry its original name in
      // the declared schema — spjLayout refuses renamed partition
      // columns, so the probe must too (flat-degrading mixed tables
      // make no partition claims at all)
      if specs == Seq(SpjLayout.MixedSpec) || schemaLines(table).isEmpty || {
        val InnerRe = """\w+\((?:\d+,)?(.+)\)""".r
        val partCols = specs.map {
          case InnerRe(c) => c
          case c => c
        }
        val ms = metaSchema(table, entries, snap)
        partCols.forall(c => ms.exists(_.fieldNames.contains(c))) &&
          schemaLines(table).flatMap(_._3).forall { case (f, t) =>
            !partCols.contains(f) && !partCols.contains(t)
          }
      }
    } yield specs

  /** MERGE-shaped SQL DML: upsert `sourceView` (a registered view)
    * into a lakehouse table through a pure-SQL merge plan —
    * `MERGE INTO t USING s ON keys WHEN MATCHED UPDATE ALL WHEN NOT
    * MATCHED INSERT ALL` expressed over the registered views — and
    * commit the result as a new snapshot. */
  def sqlMerge(table: String, sourceView: String, keyCols: Seq[String],
      partitionBy: Seq[String] = Nil): Long = {
    // the target is THIS lake's ordinary read — never the session name,
    // which may be registered to another lake, and whose statement
    // relation ([[sqlRelation]]) partitions its scan differently,
    // changing the files this rewrite writes
    val source = spark.sql(s"SELECT * FROM $sourceView")
    val target = read(table, sessionBranch)
    val merged = source.union(target.join(source,
      keyCols.map(k => target(k) === source(k)).reduce(_ && _), "left_anti"))
    // the partitioned path goes through upsert, which runs the same check
    if (partitionBy.isEmpty)
      assertMergeCardinality(target, spark.table(sourceView), table, keyCols)
    val snap =
      if (partitionBy.nonEmpty)
        upsert(spark.table(sourceView), table, keyCols, partitionBy, sessionBranch)
      else createOrReplace(merged, table, branch = sessionBranch)
    refreshOwnView(table, partitionBy)
    snap
  }

  /** Copy-on-write MERGE (upsert): source rows replace target rows on
    * key match, unmatched target rows survive, unmatched source rows
    * insert. Commits one new snapshot; history stays time-travelable.
    *
    * PARTITION-SCOPED when `partitionBy` is given (the property the
    * reference gets from Iceberg's copy-on-write —
    * mongo_to_iceberg.py:140): only the partitions the source touches
    * are merged and rewritten into the new data dir; every untouched
    * partition's ORIGINAL leaf dir is carried into the new snapshot
    * by reference, byte-identical. At 100 TB a one-partition MERGE
    * costs one partition's rewrite, not a table rewrite. */
  def upsert(source: DataFrame, table: String, keyCols: Seq[String],
      partitionBy: Seq[String] = Nil, branch: String = "main"): Long = {
    val changes = (target: DataFrame) => {
      assertMergeCardinality(target, source, table, keyCols)
      (source, source.select(keyCols.map(source(_)): _*))
    }
    if (partitionBy.isEmpty) rewriteUnpartitioned(table, branch, keyCols)(changes)
    else rewriteChangedPartitions(table, branch, keyCols, partitionBy)(changes)
  }

  /** SQL MERGE cardinality rule (Spark's MERGE_CARDINALITY_VIOLATION,
    * same in Iceberg): a single target row matched by MORE THAN ONE
    * source row is an ERROR, not a multi-update — applying each match
    * would silently write one output row per source duplicate, so a
    * feed with an accidentally-duplicated key must fail loudly instead
    * of corrupting the table. Runs against the PRE-merge base inside
    * the rewrite cores, before any snapshot is reserved: on violation
    * the table is untouched. Scale posture: duplicate source keys are
    * a map-combinable groupBy over the (small) MERGE source; the
    * target is consulted only by key semi-join (pushdown applies, and
    * AQE collapses it to an empty relation when no duplicates exist). */
  private def assertMergeCardinality(target: DataFrame, source: DataFrame,
      table: String, keyCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val dupKeys = source.groupBy(keyCols.map(source(_)): _*)
      .agg(count(lit(1)).as("__n")).where(col("__n") > 1).drop("__n")
    val offenders = target.join(dupKeys, keyCols, "left_semi")
      .select(keyCols.map(target(_)): _*).take(3)
    if (offenders.nonEmpty)
      throw new IllegalStateException(
        s"MERGE cardinality violation on $table: a target row matches more than one " +
          s"source row, e.g. key(s) ${offenders.mkString(", ")} — deduplicate the " +
          s"source on (${keyCols.mkString(", ")}) first")
  }

  /** Debug witness for `sourceKeyUnique` promises: when
    * `spark.graft.upsert.verify-key-unique` is true (default false —
    * the promise exists precisely to DELETE the guard's probe job from
    * the commit path), a promised-unique source is re-checked directly
    * (one groupBy over the source alone, no target probe) and a
    * violation fails loudly naming the broken promise instead of
    * silently multi-matching the merge. The mview fuzz suite runs its
    * randomized lifecycles under this flag, so the skipped runtime
    * guard keeps a standing test-time witness against refactors of the
    * merge legs. */
  private def assertPromisedKeyUnique(source: DataFrame, table: String,
      keyCols: Seq[String]): Unit =
    if (spark.conf.get("spark.graft.upsert.verify-key-unique", "false") == "true") {
      import org.apache.spark.sql.functions.{col, count, lit}
      val dup = source.groupBy(keyCols.map(source(_)): _*)
        .agg(count(lit(1)).as("__n")).where(col("__n") > 1).take(3)
      if (dup.nonEmpty) throw new IllegalStateException(
        s"sourceKeyUnique promise violated on $table: duplicate source key(s) " +
          s"${dup.mkString(", ")} on (${keyCols.mkString(", ")})")
    }

  /** EXACTLY-ONCE upsert for streaming replays: the micro-batch id
    * rides in the commit metadata ([[committedBatches]] ledger, same
    * as [[appendOnce]]), so a restarted `foreachBatch` that replays a
    * batch finds its id committed and changes nothing — the CDC-sink
    * counterpart of exactly-once append. */
  def upsertOnce(source: DataFrame, table: String, keyCols: Seq[String], batchId: Long,
      partitionBy: Seq[String] = Nil, branch: String = "main",
      sourceKeyUnique: Boolean = false): Long = {
    val changes = (target: DataFrame) => {
      // `sourceKeyUnique`: the caller PROVES the source is key-unique
      // by construction (e.g. the mview maintenance sources are
      // `groupBy(keyCols)` outputs) — a duplicate-key merge violation
      // is then impossible and the guard's probe job (source groupBy +
      // target semi-join, one Spark action per commit) is pure cost.
      // Default keeps the guard: external sources make no such promise.
      if (!sourceKeyUnique) assertMergeCardinality(target, source, table, keyCols)
      else assertPromisedKeyUnique(source, table, keyCols)
      (source, source.select(keyCols.map(source(_)): _*))
    }
    if (partitionBy.isEmpty)
      rewriteUnpartitioned(table, branch, keyCols, Some(batchId))(changes)
    else
      rewriteChangedPartitions(table, branch, keyCols, partitionBy, Some(batchId))(changes)
  }

  /** Exactly-once upsert PLUS keyed delete in ONE snapshot commit
    * (r17): rows of `source` replace their keys, and `deleteKeys`'
    * keys leave the table — atomically, through the same rewrite core
    * as [[upsertOnce]] (changed keys = source keys ∪ delete keys;
    * added rows = source). The mview maintenance's group-vanish leg
    * needs exactly this shape — an upsert followed by a separate
    * delete would expose a half-applied view between the two commits
    * and replay ambiguously across a crash; one commit with one
    * batch id does neither. A key in both inputs resolves as the
    * upsert (the source image wins — same rule as
    * [[applyChangesOnce]]'s insert-beats-delete). */
  def upsertDeleteOnce(source: DataFrame, deleteKeys: DataFrame, table: String,
      keyCols: Seq[String], batchId: Long, partitionBy: Seq[String] = Nil,
      branch: String = "main", sourceKeyUnique: Boolean = false): Long = {
    val changes = (target: DataFrame) => {
      // see upsertOnce: a provably key-unique source skips the guard
      if (!sourceKeyUnique) assertMergeCardinality(target, source, table, keyCols)
      else assertPromisedKeyUnique(source, table, keyCols)
      (source, source.select(keyCols.map(source(_)): _*)
        .unionByName(deleteKeys.select(keyCols.map(deleteKeys(_)): _*)))
    }
    if (partitionBy.isEmpty)
      rewriteUnpartitioned(table, branch, keyCols, Some(batchId))(changes)
    else
      rewriteChangedPartitions(table, branch, keyCols, partitionBy, Some(batchId))(changes)
  }

  /** Apply ONE micro-batch of a CDC CHANGELOG ([[readChangesCdc]]'s
    * shape: table columns + `_change_type` in insert|delete) to a
    * REPLICA table as a single keyed snapshot commit — the lake→lake
    * replication primitive. Per key: an insert image wins (its delete
    * row, when present, is just the old image of an update); a key
    * with only deletes is removed. Sound because changelog batches are
    * NET over their snapshot interval (within-interval insert+delete
    * emits nothing — see the net-out in [[readChangesCdc]]). Two
    * insert images for one key (the source double-appended a key it
    * promised was unique) fail loudly — replicating them would fork
    * the replica from any keyed read of the source. EXACTLY-ONCE via
    * the same batch-id ledger as [[upsertOnce]]: a replayed batch
    * finds its id committed and changes nothing. Cost: O(batch) plus
    * the touched partitions' rewrite — delta-priced, like every CDC
    * path here. */
  def applyChangesOnce(changes: DataFrame, table: String, keyCols: Seq[String],
      batchId: Long, partitionBy: Seq[String] = Nil, branch: String = "main"): Long = {
    import org.apache.spark.sql.functions.{col, count, lit}
    require(changes.columns.contains("_change_type"),
      "applyChangesOnce takes a changelog (readChangesCdc shape with _change_type)")
    val ins = changes.where(col("_change_type") === "insert").drop("_change_type")
    val dupIns = ins.groupBy(keyCols.map(ins(_)): _*)
      .agg(count(lit(1)).as("__n")).where(col("__n") > 1).take(1)
    if (dupIns.nonEmpty) throw new IllegalStateException(
      s"changelog batch carries more than one insert image for key(s) " +
        s"${dupIns.mkString(", ")} on $table — the source is not unique on " +
        s"(${keyCols.mkString(", ")})")
    // a first batch (the stream's full-snapshot seed) bootstraps the
    // replica; deletes against a table that doesn't exist are no-ops
    if (currentSnapshot(table, branch).isEmpty)
      return appendOnce(ins, table, batchId, partitionBy, branch)
    // every changed key leaves the base; insert images come back
    val allKeys = changes.select(keyCols.map(changes(_)): _*)
    val changesFn = (_: DataFrame) => (ins, allKeys)
    if (partitionBy.isEmpty)
      rewriteUnpartitioned(table, branch, keyCols, Some(batchId))(changesFn)
    else
      rewriteChangedPartitions(table, branch, keyCols, partitionBy, Some(batchId))(changesFn)
  }

  /** Copy-on-write rewrite core, unpartitioned: `changes(target)`
    * yields (rows to add, keys to remove) against the base snapshot;
    * the whole table rewrites as one new data dir. A `batchId` makes
    * the commit EXACTLY-ONCE for streaming replays (same ledger as
    * [[appendOnce]]). */
  private def rewriteUnpartitioned(table: String, branch: String,
      keyCols: Seq[String], batchId: Option[Long] = None)(
      changes: DataFrame => (DataFrame, DataFrame)): Long =
    retryingCommit(table, branch) { base =>
      if (batchId.exists(committedBatches(table).contains)) base.getOrElse(-1L)
      else {
        val target = readBase(table, base)
        val (addRows, removeKeys) = changes(target)
        val keep = target.join(removeKeys.distinct(), keyCols, "left_anti")
        val snap = reserveSnap(table)
        val dir = s"data-$snap"
        try {
          writeDataDir(keep.unionByName(addRows), table, dir, Nil)
          commit(table, snap, Seq(dir), branch, Some(base), batch = batchId)
        } catch { case e: Throwable => abortSnap(table, snap, dir); throw e }
      }
    }

  /** Copy-on-write rewrite core, PARTITION-SCOPED: only partitions the
    * change set touches are rewritten; every untouched partition's
    * ORIGINAL leaf dir is carried into the new snapshot by reference,
    * byte-identical. At 100 TB a one-partition change costs one
    * partition's rewrite, not a table rewrite. */
  private def rewriteChangedPartitions(table: String, branch: String,
      keyCols: Seq[String], partitionBy: Seq[String], batchId: Option[Long] = None)(
      changes: DataFrame => (DataFrame, DataFrame)): Long =
    retryingCommit(table, branch) { base =>
      if (batchId.exists(committedBatches(table).contains)) base.getOrElse(-1L)
      else {
        val prev = base.map(c => snapshots(table).find(_._1 == c).get._2).getOrElse(Seq.empty)
        val prevDeletes =
          base.map(c => snapshotDeletes(table).getOrElse(c, Seq.empty)).getOrElse(Nil)
        val target = readBase(table, base)
        val (addRows, removeKeys0) = changes(target)
        val removeKeys = removeKeys0.distinct()
        // Hidden partitioning: all partition-value work below runs in
        // PHYSICAL layout columns (`_p_…` for transforms, the column
        // itself for identity) — derived on the fly, dropped before
        // any row is written or returned.
        val spec = Transforms.canon(partitionBy)
        val ts = spec.map(Transforms.parse)
        val phys = ts.map(_.phys)
        val addP = Transforms.withDerived(addRows, ts)
        val tgtP = Transforms.withDerived(target, ts)
        // Touched partitions = the partitions the change set writes into
        // ∪ the partitions its keys currently LIVE in. The second set is
        // what makes a partition-moving key correct: without it the old
        // row survives by reference in its untouched partition and the
        // table ends up with duplicate keys. Finding it is a key
        // semi-join over the target (read-only, pushdown applies); the
        // REWRITE stays touched-partitions-only.
        val touched = addP.select(phys.map(addP(_)): _*).distinct()
          .unionByName(
            tgtP.join(removeKeys, keyCols, "left_semi")
              .select(phys.map(tgtP(_)): _*).distinct())
          .distinct()
        def enc(c: String, v: Any): String =
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .getPartitionPathString(c, if (v == null) null else v.toString)
        val touchedRows = touched.collect()
        // touched partition values as path-encoded `c=v` segments: as an
        // ordered leaf path (same-layout supersede matching) and as a
        // per-column map (cross-layout overlap tests below)
        val encodedLeaves = touchedRows.map(row =>
          phys.zipWithIndex.map { case (c, i) => enc(c, row.get(i)) }
            .mkString("/")).toSet
        val touchedByCol: Seq[Map[String, String]] = touchedRows.map(row =>
          phys.zipWithIndex.map { case (c, i) => c -> enc(c, row.get(i)) }.toMap).toSeq
        // PARTITION EVOLUTION: entries written under the CURRENT layout
        // carry/supersede leaf-for-leaf as always; entries under a
        // DIFFERENT layout (incl. unpartitioned) can't be compared by
        // leaf name, so each of THEIR OWN leaves is tested for overlap
        // with the touched values on the columns the two layouts SHARE:
        // a non-overlapping leaf carries by reference untouched, an
        // overlapping one migrates WHOLLY into this rewrite (its
        // touched-group rows via the by-value semi-join, the rest via
        // `migratedRest`) and is dropped — Iceberg's "old files keep
        // their spec until a rewrite touches them". Disjoint layouts
        // can't prove non-overlap → migrate (conservatively correct).
        // layoutOf reports SPEC vocabulary (`days(ts)`, not
        // `_p_days_ts`) so layouts compare transform-aware; the
        // overlap test below stays in PHYSICAL names because the leaf
        // path segments are physical — a shared transform means a
        // shared physical name means directly comparable derived
        // values (same deterministic function on both sides).
        def layoutOf(entry: String): Seq[String] = {
          val slash = entry.indexOf('/')
          if (slash >= 0)
            entry.substring(slash + 1).split("/").toSeq
              .map(s => Transforms.specOfPhys(s.takeWhile(_ != '=')))
          else dirLayout(table, entry)
        }
        def overlapsTouched(leafSegs: Seq[String]): Boolean = {
          val leafByCol = leafSegs.map(s => s.takeWhile(_ != '=') -> s).toMap
          val shared = leafByCol.keySet intersect phys.toSet
          shared.isEmpty ||
            touchedByCol.exists(t => shared.forall(c => t(c) == leafByCol(c)))
        }
        // (carried other-layout entries, other-layout entries to migrate)
        val (sameLayout, otherLayout) = prev.partition(e => layoutOf(e) == spec)
        val (otherCarried, otherMigrated) = otherLayout.flatMap { entry =>
          val slash = entry.indexOf('/')
          if (slash >= 0) Seq(entry)
          else layoutOf(entry) match {
            case Nil => Seq(entry) // unpartitioned (or empty) dir
            case own => leafDirs(new Path(tableDir(table), entry), own.length)
              .map(l => s"$entry/$l")
          }
        }.partition { entry =>
          val slash = entry.indexOf('/')
          val segs = if (slash >= 0) entry.substring(slash + 1).split("/").toSeq else Nil
          !overlapsTouched(segs)
        }
        val targetTouched =
          Transforms.dropDerived(tgtP.join(touched, phys, "left_semi"))
        // rows of migrating entries OUTSIDE the touched groups — they
        // move into the new dir (new layout) unchanged; their
        // touched-group siblings already arrive through targetTouched.
        // Reads come back user-schema (openDirGroup drops `_p_…`), so
        // the current layout's derived values are re-computed for the
        // anti-join and dropped again.
        lazy val dels = tombstones(table, base.get)
        val migratedRest = otherMigrated.groupBy(_.takeWhile(_ != '/')).toSeq.sortBy(_._1)
          .map { case (dataDir, es) =>
            val paths = if (es.contains(dataDir)) Seq(dataDir) else es
            applyTombstones(openDirGroup(table, dataDir, paths), dataDir, dels)
          }
          .reduceOption(_.unionByName(_, allowMissingColumns = true))
          .map(df => Transforms.dropDerived(
            Transforms.withDerived(df, ts).join(touched, phys, "left_anti")))
        val changed = targetTouched
          .join(removeKeys, keyCols, "left_anti")
          .unionByName(addRows)
        val merged = migratedRest
          .map(changed.unionByName(_, allowMissingColumns = true)).getOrElse(changed)
        val snap = reserveSnap(table)
        val dir = s"data-$snap"
        try {
          writeDataDir(merged, table, dir, spec)
          // Touched-partition names come from TWO sources: the delta
          // dir's written leaves (Spark's own path encoding — can never
          // disagree with what was written), plus the path-encoded
          // touched VALUES — needed because a partition whose every row
          // lost on key writes no leaf at all, yet its old leaf must
          // still be superseded (not carried by reference).
          val writtenLeaves = leafDirs(new Path(tableDir(table), dir), phys.length).toSet
          val touchedLeaves = writtenLeaves ++ encodedLeaves
          val kept = sameLayout.flatMap { entry =>
            val slash = entry.indexOf('/')
            if (slash >= 0) {
              // already a partition leaf: keep unless superseded
              if (touchedLeaves.contains(entry.substring(slash + 1))) Nil else Seq(entry)
            } else {
              // whole data dir: explode into leaves and keep the untouched ones
              leafDirs(new Path(tableDir(table), entry), phys.length)
                .filterNot(touchedLeaves.contains).map(l => s"$entry/$l")
            }
          } ++ otherCarried
          // carried-by-reference leaves still need the base's tombstones
          // (the rewritten dir's higher sequence exempts it from them)
          commit(table, snap, kept :+ dir, branch, Some(base), batch = batchId,
            deletes = prevDeletes)
        } catch { case e: Throwable => abortSnap(table, snap, dir); throw e }
      }
    }

  /** Conditional MERGE — the clause surface Iceberg's SQL extension
    * parser accepts beyond the canonical upsert-all:
    * {{{
    * MERGE INTO t USING s ON t.k = s.k
    *   WHEN MATCHED [AND <cond>] THEN UPDATE SET * | UPDATE SET col = expr, … | DELETE
    *   [WHEN NOT MATCHED [AND <cond>] THEN INSERT * | INSERT (cols) VALUES (exprs)]
    *   WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN UPDATE SET col = expr, … | DELETE
    * }}}
    * SQL MERGE semantics: per matched target row, the FIRST clause
    * whose condition is true applies (no clause → the row survives);
    * unmatched source rows insert iff the insert clause's condition
    * holds. Conditions and expressions are row-local, qualified by the
    * table/source view names, and evaluate against the PRE-merge
    * state. `UPDATE SET *` takes all columns from the source row;
    * explicit assignments leave unassigned columns at the TARGET row's
    * values (SQL UPDATE semantics); assigned values cast back to the
    * declared column types (no silent schema drift). Commits ONE
    * snapshot through the same copy-on-write cores as [[upsert]] —
    * partition-scoped when `partitionBy` is given. */
  def sqlMergeClauses(table: String, sourceView: String, keyCols: Seq[String],
      matched: Seq[MergeMatched],
      notMatchedInsert: Option[MergeInsert],
      partitionBy: Seq[String] = Nil, branch: String = sessionBranch,
      notMatchedBySource: Seq[MergeMatched] = Nil): Long = {
    import org.apache.spark.sql.functions.{col, lit, when}
    notMatchedBySource.foreach(m => require(m.isDelete || m.assignments.isDefined,
      "WHEN NOT MATCHED BY SOURCE has no source row: UPDATE SET * is " +
        "meaningless there — use explicit assignments or DELETE"))
    val changes = (target: DataFrame) => {
      val source = spark.table(sourceView)
      assertMergeCardinality(target, source, table, keyCols)
      val t = target.alias(table)
      val s = source.alias(sourceView)
      val joinCond = keyCols.map(k =>
        col(s"$table.$k") === col(s"$sourceView.$k")).reduce(_ && _)
      // index of the FIRST applicable clause per matched row (1-based;
      // 0 = no clause applies, the row survives untouched)
      val action = matched.zipWithIndex.foldRight(lit(0)) { case ((m, i), rest) =>
        when(m.cond.getOrElse(lit(true)), lit(i + 1)).otherwise(rest)
      }
      val pairs = t.join(s, joinCond).withColumn("__act", action)
      val tCols = target.columns.toSeq
      val sCols = source.columns.toSeq
      val upRows = matched.zipWithIndex.collect { case (m, i) if !m.isDelete =>
        val subset = pairs.where(col("__act") === (i + 1))
        m.assignments match {
          case None => // SET *: the full source row replaces the target's
            subset.select(sCols.map(c => col(s"$sourceView.$c")): _*)
          case Some(asg) =>
            val byName = asg.toMap
            val unknown = byName.keySet -- tCols.toSet
            require(unknown.isEmpty,
              s"MERGE UPDATE SET references unknown column(s): ${unknown.mkString(", ")}")
            // all right-hand sides evaluate against the PRE-merge pair
            // in one projection; unassigned columns keep target values
            subset.select(tCols.map { c =>
              byName.get(c)
                .map(e => e.cast(target.schema(c).dataType).as(c))
                .getOrElse(col(s"$table.$c").as(c))
            }: _*)
        }
      }.reduceOption(_.unionByName(_)).getOrElse(target.where(lit(false)))
      val removeKeys = pairs.where(col("__act") =!= 0)
        .select(keyCols.map(k => col(s"$table.$k")): _*)
      val insRows = notMatchedInsert match {
        case Some(ins) =>
          val unmatched = s.join(t, joinCond, "left_anti")
          val filtered = ins.cond.map(unmatched.where).getOrElse(unmatched)
          ins.columns match {
            case None => filtered.select(sCols.map(col): _*)
            case Some((cols, vals)) =>
              require(cols.length == vals.length,
                s"MERGE INSERT lists ${cols.length} columns but ${vals.length} values")
              val byName = cols.zip(vals).toMap
              val unknown = byName.keySet -- tCols.toSet
              require(unknown.isEmpty,
                s"MERGE INSERT references unknown column(s): ${unknown.mkString(", ")}")
              // explicit column list: listed columns take their VALUES
              // expression (source-alias row-local), the rest NULL —
              // all cast to the declared types
              filtered.select(tCols.map { c =>
                byName.get(c)
                  .map(e => e.cast(target.schema(c).dataType).as(c))
                  .getOrElse(lit(null).cast(target.schema(c).dataType).as(c))
              }: _*)
          }
        case None => source.where(lit(false))
      }
      // WHEN NOT MATCHED BY SOURCE (the full-sync side of SQL MERGE):
      // target rows with NO source key match — first-applicable-clause
      // semantics like the matched side; UPDATE assignments are
      // target-row-local (there is no source row), DELETE removes.
      // Updated-or-deleted rows leave via removeKeys; updated images
      // come back through addRows — same one-snapshot discipline.
      val (bySrcUp, bySrcRemove) = if (notMatchedBySource.isEmpty)
        (target.where(lit(false)), target.where(lit(false))
          .select(keyCols.map(col): _*))
      else {
        val unmatchedT = t.join(s, joinCond, "left_anti")
        val actionB = notMatchedBySource.zipWithIndex.foldRight(lit(0)) {
          case ((m, i), rest) =>
            when(m.cond.getOrElse(lit(true)), lit(i + 1)).otherwise(rest)
        }
        val tagged = unmatchedT.withColumn("__act", actionB)
        val ups = notMatchedBySource.zipWithIndex.collect { case (m, i) if !m.isDelete =>
          val byName = m.assignments.get.toMap
          val unknown = byName.keySet -- tCols.toSet
          require(unknown.isEmpty,
            s"MERGE NOT MATCHED BY SOURCE UPDATE references unknown column(s): " +
              unknown.mkString(", "))
          tagged.where(col("__act") === (i + 1)).select(tCols.map { c =>
            byName.get(c)
              .map(e => e.cast(target.schema(c).dataType).as(c))
              .getOrElse(col(c))
          }: _*)
        }.reduceOption(_.unionByName(_)).getOrElse(target.where(lit(false)))
        (ups, tagged.where(col("__act") =!= 0).select(keyCols.map(col): _*))
      }
      (upRows.unionByName(insRows).unionByName(bySrcUp),
        removeKeys.unionByName(bySrcRemove))
    }
    val snap =
      if (partitionBy.isEmpty) rewriteUnpartitioned(table, branch, keyCols)(changes)
      else rewriteChangedPartitions(table, branch, keyCols, partitionBy)(changes)
    refreshOwnView(table, partitionBy)
    snap
  }

  /** Read the snapshot a writer is basing a commit on (empty relation
    * with the source's schema when the table doesn't exist yet is not
    * needed — callers only base on existing tables). */
  private def readBase(table: String, base: Option[Long]): DataFrame =
    base.map(readSnapshot(table, _)).getOrElse(
      throw new IllegalArgumentException(s"no such table: $table"))

  /** Read a branch's current snapshot. */
  def read(table: String, branch: String = "main"): DataFrame =
    readSnapshot(table, currentSnapshot(table, branch)
      .getOrElse(throw new IllegalArgumentException(s"no such table/branch: $table@$branch")))

  /** Time travel: read any committed snapshot. `mergeSchema` unions
    * the data-dir schemas, so a column added by a later append is
    * visible (null for pre-evolution rows) — Iceberg-style additive
    * schema evolution without rewriting history.
    *
    * Entries are read one GROUP per data dir: a whole-dir entry reads
    * the dir root (partition discovery relative to it), and partition
    * leaf entries of one data dir read together with `basePath` at
    * the dir root so the partition columns resolve identically. The
    * per-dir reads then union by name (missing columns → null), which
    * both preserves partition pruning inside each scan and makes a
    * mixed whole-dir/leaf snapshot (post-upsert) read seamlessly. */
  def readSnapshot(table: String, snap: Long): DataFrame = {
    val dirs = snapshots(table).find(_._1 == snap)
      .getOrElse(throw new IllegalArgumentException(s"$table has no snapshot $snap"))._2
    val groups = dirs.groupBy(_.takeWhile(_ != '/')).toSeq.sortBy(_._1)
    val dels = tombstones(table, snap)
    val reads = groups.map { case (dataDir, entries) =>
      val df =
        if (entries.contains(dataDir)) openDirGroup(table, dataDir, Seq(dataDir), Some(snap))
        else openDirGroup(table, dataDir, entries, Some(snap))
      applyTombstones(df, dataDir, dels)
    }
    reads.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Open a write-once tombstone dir WITHOUT the per-call schema-
    * inference Spark job: the inferred schema caches by (dir path,
    * dir mtime) in [[Lakehouse.tombstoneSchemaCache]] — MoR-heavy
    * lifecycles re-open the same immutable dir many times, and each
    * bare `spark.read.parquet` was one driver job. */
  private[sources] def readTombstoneDir(table: String, d: String): DataFrame = {
    val p = new Path(tableDir(table), d)
    // a failed stat must BYPASS the cache, not cache under (path, 0L):
    // the mtime is the staleness defense, and a constant fallback key
    // would silently disable it for same-path recreations
    scala.util.Try(fs.getFileStatus(p).getModificationTime).toOption match {
      case None => spark.read.parquet(p.toString)
      case Some(mtime) =>
        val key = (p.toString, mtime)
        val cached = Lakehouse.tombstoneSchemaCache.get(key)
        if (cached != null) spark.read.schema(cached).parquet(p.toString)
        else {
          val df = spark.read.parquet(p.toString)
          if (Lakehouse.tombstoneSchemaCache.size > 512)
            Lakehouse.tombstoneSchemaCache.clear()
          Lakehouse.tombstoneSchemaCache.put(key, df.schema)
          df
        }
    }
  }

  /** Tombstone (sequence, key-rows) pairs a snapshot references, in
    * commit order. EQUALITY tombstone key columns are FORWARD-MAPPED
    * through the renames committed after the tombstone and at-or-
    * before the read snapshot — the data they anti-join against is
    * aligned to the DECLARED schema ([[alignToDeclared]]), so a key
    * recorded under a pre-rename name would otherwise silently fail
    * to resolve (or worse, fail to match). */
  private def tombstones(table: String, snap: Long): Seq[(Long, DataFrame)] =
    snapshotDeletes(table).getOrElse(snap, Seq.empty).map { d =>
      val seq = d.stripPrefix("_deletes-").toLong
      val df = readTombstoneDir(table, d)
      val renames =
        if (df.columns.toSeq == Seq("__file", "__pos")) Seq.empty // positional: name-free
        else schemaLines(table).filter(l => l._1 > seq && l._1 <= snap).flatMap(_._3)
      val mapped = renames.foldLeft(df) { case (acc, (from, to)) =>
        if (acc.columns.exists(_.equalsIgnoreCase(from)))
          acc.withColumnRenamed(from, to)
        else acc
      }
      // deleted-row-sized tombstones carry a BROADCAST hint from here
      // (the hint survives the downstream renames/projections and
      // prices ONCE per read, not once per dir-group); a payload past
      // the shared SPJ broadcast gate ships un-hinted so the anti-join
      // plans shuffle-side — executor memory must never scale with how
      // wide a MoR update was. On-disk dir bytes, same proxy as the
      // SPJ gate.
      val small = tombstoneSlices(table, d).map(_._2).sum <= spjTombstoneGate
      (seq, if (small) org.apache.spark.sql.functions.broadcast(mapped) else mapped)
    }

  /** Anti-join the tombstones that apply to `dataDir` (those with a
    * HIGHER sequence — the Iceberg v2 rule that lets later appends
    * re-insert deleted keys). Two tombstone kinds, told apart by their
    * schema: EQUALITY tombstones (columns = the key columns) anti-join
    * on values; POSITIONAL tombstones (`__file`, `__pos` — the
    * Iceberg v2 position-delete-file shape) anti-join on the scan's
    * `_metadata` file path + row index, surgically removing exactly
    * the rows a predicate matched at delete time. Tombstone sets are
    * deleted-row-sized: broadcast. */
  private def applyTombstones(df: DataFrame, dataDir: String,
      dels: Seq[(Long, DataFrame)]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val seqNo = dataDir.stripPrefix("data-").toLong
    val applicable = dels.filter(_._1 > seqNo)
    val anyPositional = applicable.exists(_._2.columns.toSeq == Seq("__file", "__pos"))
    // `_metadata` resolves only directly on the file scan — materialize
    // path+index ONCE before any anti-join (a second positional
    // tombstone could not re-derive them after the first join)
    val base =
      if (!anyPositional) df
      else df.withColumn("__file", col("_metadata.file_path"))
        .withColumn("__pos", col("_metadata.row_index"))
    // NULL-SAFE equality (<=>): Iceberg equality-delete semantics treat
    // a NULL tombstone value as matching NULL data values — a plain
    // equality anti-join would silently no-op a null-key delete.
    val filtered = applicable.foldLeft(base) { case (d, (_, keys)) =>
      val kcols = keys.columns.toSeq
      val ts = keys.toDF(kcols.map("__ts_" + _): _*)
      val cond = kcols.map(c => d(c) <=> ts("__ts_" + c)).reduce(_ && _)
      // [[tombstones]] already hinted deleted-row-sized payloads for
      // broadcast (once per read) and left above-gate ones un-hinted —
      // the anti-join here just takes whatever plan that implies
      d.join(ts, cond, "left_anti")
    }
    if (anyPositional) filtered.drop("__file", "__pos") else filtered
  }

  /** Compact a branch's snapshot: rewrite its (possibly many) delta
    * dirs into ONE data dir and commit that as a new snapshot. Fixes
    * the small-files problem of long append chains; history still
    * time-travels to the pre-compaction snapshots. */
  def compact(table: String, partitionBy: Seq[String] = Nil, branch: String = "main"): Long =
    createOrReplace(read(table, branch), table, partitionBy, branch)

  /** Sort-clustered compaction (the rewrite_data_files + sort-order
    * analog): rewrite the branch's snapshot range-partitioned and
    * sorted on `sortCols`, so each output file covers a narrow,
    * disjoint slice of the key space — which makes the per-file
    * min/max ledger MAXIMALLY selective for [[readWhere]] and
    * [[prunedRead]]. On an append chain whose files interleave the
    * key (stats useless: every file spans the full range), clustering
    * is the difference between opening every file and opening one —
    * at 100 TB, the single biggest read-amplification lever after
    * partitioning itself. */
  def compactClustered(table: String, sortCols: Seq[String], nFiles: Int,
      branch: String = "main"): Long = {
    import org.apache.spark.sql.functions.col
    require(sortCols.nonEmpty && nFiles > 0, "need sort columns and a positive file count")
    val clustered = read(table, branch)
      .repartitionByRange(nFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
    createOrReplace(clustered, table, Nil, branch)
  }

  /** INCREMENTAL bin-pack compaction (the `rewrite_data_files`
    * binpack-strategy analog): fold only the snapshot entries SMALLER
    * than `smallBytes` into one new data dir and carry every larger
    * entry into the new snapshot BY REFERENCE, byte-identical. A
    * long-running append chain accumulates small delta dirs; this
    * fixes exactly that — cost O(small files), independent of table
    * size — where [[compact]] rewrites everything. Size comes from
    * filesystem metadata (no scan); tombstones are materialized into
    * the folded rows (the new dir outranks them) and carried for the
    * referenced ones. */
  def compactBinPack(table: String, smallBytes: Long, branch: String = "main"): Long =
    retryingCommit(table, branch) { base =>
      val entries = base.map(c => snapshots(table).find(_._1 == c).get._2)
        .getOrElse(throw new IllegalArgumentException(s"no such table: $table"))
      val prevDeletes = snapshotDeletes(table).getOrElse(base.get, Seq.empty)
      val sized = entries.map { e =>
        (e, fs.getContentSummary(new Path(tableDir(table), e)).getLength)
      }
      val (small, big) = sized.partition(_._2 < smallBytes)
      if (small.length <= 1) base.get // nothing worth folding: no-op
      else {
        val dels = tombstones(table, base.get)
        val byDataDir = small.map(_._1).groupBy(_.takeWhile(_ != '/')).toSeq.sortBy(_._1)
        val folded0 = byDataDir.map { case (dataDir, dirEntries) =>
          applyTombstones(openDirGroup(table, dataDir,
            if (dirEntries.contains(dataDir)) Seq(dataDir) else dirEntries), dataDir, dels)
        }.reduce(_.unionByName(_, allowMissingColumns = true))
        // The fold's POINT is fewer files: the union carries one input
        // partition per source file, so an uncoalesced write re-emits
        // the same small files under a new dir. Pack to the target
        // size instead (coalesce — no shuffle, cost stays O(small)).
        val targetParts = math.max(1L, (small.map(_._2).sum + smallBytes - 1) / smallBytes)
        val folded = folded0.coalesce(targetParts.toInt)
        val snap = reserveSnap(table)
        val dir = s"data-$snap"
        try {
          writeDataDir(folded, table, dir, Nil)
          commit(table, snap, big.map(_._1) :+ dir, branch, Some(base), deletes = prevDeletes)
        } catch { case e: Throwable => abortSnap(table, snap, dir); throw e }
      }
    }

  /** PARTITION-SCOPED compaction (Iceberg's `rewrite_data_files`
    * with a row-filter scope): fold ONLY the snapshot entries whose
    * stats say `pred` may match — the hot partition, the recent time
    * range — into one new data dir; every provably-clean entry
    * carries into the new snapshot BY REFERENCE, byte-identical. The
    * filter SCOPES which files rewrite; no row is ever dropped
    * (touched entries rewrite whole, exactly Iceberg's semantics).
    * Cost O(matching dirs), independent of table size — on a table
    * where one partition churns small files while the rest is cold
    * history, this is the only affordable compaction. Tombstones
    * materialize into the rewritten rows and carry for the
    * referenced entries (the deleteWhere/binpack rule). */
  def compactWhere(pred: org.apache.spark.sql.Column, table: String,
      partitionBy: Seq[String] = Nil, branch: String = "main",
      targetBytes: Long = 128L * 1024 * 1024): Long =
    retryingCommit(table, branch) { base =>
      val rawEntries = base.map(c => snapshots(table).find(_._1 == c).get._2)
        .getOrElse(throw new IllegalArgumentException(s"no such table: $table"))
      // schema-only conjunct analysis (the readWhere rule): building
      // the real relation would open every dir — including the cold
      // history this operation exists to never touch
      val analysisRel = metaSchema(table, rawEntries, base.get) match {
        case Some(st) => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
        case None => readBase(table, base)
      }
      val conjuncts = Transforms.derivedConjuncts(
        skippableConjuncts(pred, analysisRel),
        snapshotPhysLayouts(table, rawEntries))
      // partitioned: classify at partition-LEAF granularity so a
      // predicate on the partition column folds only matching leaves
      val entries =
        if (partitionBy.isEmpty) rawEntries
        else rawEntries.flatMap { e =>
          if (e.contains("/")) Seq(e)
          else dirLayout(table, e) match {
            case Nil => Seq(e)
            case own => leafDirs(new Path(tableDir(table), e), own.length)
              .map(l => s"$e/$l")
          }
        }
      val sums = dirSummaries(table)
      val (touched, clean) = entries.partition(e =>
        matchingFiles(table, e, conjuncts, sums).nonEmpty)
      val prevDeletes = snapshotDeletes(table).getOrElse(base.get, Seq.empty)
      if (touched.length <= 1) base.get // one matching entry: nothing to fold
      else {
        val dels = tombstones(table, base.get)
        val byDataDir = touched.groupBy(_.takeWhile(_ != '/')).toSeq.sortBy(_._1)
        val rows = byDataDir.map { case (dataDir, dirEntries) =>
          applyTombstones(openDirGroup(table, dataDir,
            if (dirEntries.contains(dataDir)) Seq(dataDir) else dirEntries), dataDir, dels)
        }.reduce(_.unionByName(_, allowMissingColumns = true))
        // the fold's point is fewer files (the binpack rule): pack to
        // targetBytes instead of re-emitting one file per input split
        val touchedBytes = touched.map(e =>
          fs.getContentSummary(new Path(tableDir(table), e)).getLength).sum
        val targetParts = math.max(1L, (touchedBytes + targetBytes - 1) / targetBytes)
        val packed = rows.coalesce(targetParts.toInt)
        val snap = reserveSnap(table)
        val dir = s"data-$snap"
        try {
          writeDataDir(packed, table, dir, partitionBy)
          commit(table, snap, clean :+ dir, branch, Some(base), deletes = prevDeletes)
        } catch { case e: Throwable => abortSnap(table, snap, dir); throw e }
      }
    }

  /** Z-ORDER clustered compaction (the `rewrite_data_files` +
    * zorder(a, b) analog): rewrite the branch's snapshot clustered on
    * the INTERLEAVED bits of two numeric columns, so each output file
    * covers a small rectangle of the (a, b) value space and the
    * per-file min/max ledger prunes [[readWhere]] on EITHER column —
    * where [[compactClustered]]'s single sort order prunes only its
    * leading key. Each column is min/max-normalized to 16 bits (one
    * 2-row aggregate; bounds are metadata-scale) and the 32-bit Morton
    * code is straight-line shift/mask arithmetic inside codegen; the
    * range partitioner then cuts the Z-curve into `nFiles` contiguous
    * runs. At 100 TB this is the read-amplification lever for tables
    * queried by two independent keys (e.g. time AND tenant). */
  def compactZOrdered(table: String, cols: Seq[String], nFiles: Int,
      branch: String = "main"): Long = {
    import org.apache.spark.sql.functions.{col, lit, max, min, shiftleft, shiftright}
    require(cols.length == 2, "z-order clustering interleaves exactly two columns")
    require(nFiles > 0, "need a positive file count")
    val df = read(table, branch)
    val Seq(a, b) = cols
    val bounds = df.agg(
      min(col(a).cast("double")), max(col(a).cast("double")),
      min(col(b).cast("double")), max(col(b).cast("double"))).head()
    def norm(c: String, lo: Double, hi: Double) =
      if (!(hi > lo)) lit(0L)
      else ((col(c).cast("double") - lit(lo)) * lit(65535.0 / (hi - lo))).cast("long")
    val na = norm(a, bounds.getDouble(0), bounds.getDouble(1))
    val nb = norm(b, bounds.getDouble(2), bounds.getDouble(3))
    val z = (0 until 16).flatMap { i =>
      Seq(
        shiftleft(shiftright(na, i).bitwiseAND(lit(1L)), 2 * i),
        shiftleft(shiftright(nb, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_.bitwiseOR(_))
    val clustered = df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
    createOrReplace(clustered, table, Nil, branch)
  }

  /** Incremental read (the Iceberg incremental-append-scan analog):
    * rows ADDED between two committed snapshots, i.e. the data
    * entries `toSnap` references that `fromSnap` does not. For a
    * consumer tailing an append chain this reads ONLY the delta files
    * — cost O(new data), independent of table size. Like Iceberg, the
    * scan requires the interval to be append-only: a replace/merge/
    * delete in between rewrote history (old rows reappear inside new
    * dirs), so it throws rather than emit rewritten rows as "new". */
  def readChanges(table: String, fromSnap: Long, toSnap: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val all = snapshots(table)
    val from = all.find(_._1 == fromSnap)
      .getOrElse(throw new IllegalArgumentException(s"$table has no snapshot $fromSnap"))._2
    val to = all.find(_._1 == toSnap)
      .getOrElse(throw new IllegalArgumentException(s"$table has no snapshot $toSnap"))._2
    require(from.forall(to.contains),
      s"$table: $fromSnap -> $toSnap is not an append-only interval " +
        "(a replace/merge/delete rewrote data); consume the full snapshot instead")
    require(snapshotDeletes(table).getOrElse(fromSnap, Seq.empty) ==
      snapshotDeletes(table).getOrElse(toSnap, Seq.empty),
      s"$table: $fromSnap -> $toSnap added merge-on-read tombstones " +
        "(rows were deleted); consume the full snapshot instead")
    val added = to.filterNot(from.toSet)
    if (added.isEmpty) readSnapshot(table, toSnap).where(lit(false))
    else {
      val groups = added.groupBy(_.takeWhile(_ != '/')).toSeq.sortBy(_._1)
      groups.map { case (dataDir, entries) =>
        if (entries.contains(dataDir)) openDirGroup(table, dataDir, Seq(dataDir))
        else openDirGroup(table, dataDir, entries)
      }.reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** CDC incremental read (the Iceberg changelog-scan shape): the
    * ROW-LEVEL changes between two snapshots of a merge-on-read
    * interval, as the table schema plus `_change_type`
    * (`insert` | `delete`). Inserts are the rows of data dirs appended
    * in the interval; deletes are the row IMAGES matched by tombstones
    * added in the interval (so a MoR UPDATE surfaces as its old image's
    * delete plus its delta's insert — apply in that order for upsert
    * materialization). True rewrites — replace, copy-on-write DML,
    * compaction — still refuse: their history does not decompose into
    * row deltas ([[readChanges]]'s rule). Cost: a scan of the appended
    * dirs plus tombstone-matched scans of only the dirs the NEW
    * tombstones can touch, with broadcast tombstones — delta-priced,
    * never a table diff. */
  def readChangesCdc(table: String, fromSnap: Long, toSnap: Long): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val all = snapshots(table)
    val from = all.find(_._1 == fromSnap)
      .getOrElse(throw new IllegalArgumentException(s"$table has no snapshot $fromSnap"))._2
    val to = all.find(_._1 == toSnap)
      .getOrElse(throw new IllegalArgumentException(s"$table has no snapshot $toSnap"))._2
    require(from.forall(to.contains),
      s"$table: $fromSnap -> $toSnap is not an append/MoR interval " +
        "(a replace/merge/compaction rewrote data); consume the full snapshot instead")
    val fromDels = snapshotDeletes(table).getOrElse(fromSnap, Seq.empty)
    val toDels = snapshotDeletes(table).getOrElse(toSnap, Seq.empty)
    require(fromDels.forall(toDels.contains),
      s"$table: $fromSnap -> $toSnap dropped tombstones (a rewrite materialized them); " +
        "consume the full snapshot instead")
    // deleted-row-sized tombstones carry the broadcast hint from here
    // (same on-disk-bytes gate as every other tombstone consumer): an
    // above-gate payload anti-joins shuffle-side instead of forcing
    // executor memory to scale with how wide the MoR interval was
    def parsedDels(names: Seq[String]) = names.map { d =>
      val df = readTombstoneDir(table, d)
      val small = tombstoneSlices(table, d).map(_._2).sum <= spjTombstoneGate
      (d.stripPrefix("_deletes-").toLong, if (small) broadcast(df) else df)
    }
    val oldDels = parsedDels(fromDels)
    val newDels = parsedDels(toDels.filterNot(fromDels.toSet))
    def tombCond(base: DataFrame, ts: DataFrame, kcols: Seq[String]) =
      kcols.map(c => base(c) <=> ts("__ts_" + c)).reduce(_ && _)
    val added = to.filterNot(from.toSet)
    val inserts = added.groupBy(_.takeWhile(_ != '/')).toSeq.sortBy(_._1).map {
      case (dataDir, entries) =>
        val raw =
          if (entries.contains(dataDir)) openDirGroup(table, dataDir, Seq(dataDir), Some(toSnap))
          else openDirGroup(table, dataDir, entries, Some(toSnap))
        // NET-OUT within the interval: a row inserted AND tombstoned
        // between `from` and `to` (insert at n+1, MoR delete at n+2 in
        // one multi-snapshot batch) is NO net change — without this
        // anti-join the changelog would emit its insert and never its
        // delete (the deletes pass below scans only pre-existing
        // dirs), so a replica applying the batch would resurrect it
        val seqNo = scala.util.Try(dataDir.stripPrefix("data-").toLong)
          .getOrElse(Long.MaxValue)
        val applicableNew = newDels.filter(_._1 > seqNo)
        val alive = if (applicableNew.isEmpty) raw else {
          val base = raw.withColumn("__file", col("_metadata.file_path"))
            .withColumn("__pos", col("_metadata.row_index"))
          applicableNew.foldLeft(base) { case (d, (_, keys)) =>
            val ts = keys.toDF(keys.columns.map("__ts_" + _).toIndexedSeq: _*)
            d.join(ts, tombCond(d, ts, keys.columns.toSeq), "left_anti")
          }.drop("__file", "__pos")
        }
        alive.withColumn("_change_type", lit("insert"))
    }
    // deletes: per pre-existing dir, rows alive at `from` (old
    // tombstones anti-joined) that ANY new tombstone matches —
    // positional tombstones match on materialized file/pos, equality
    // tombstones null-safely on their key columns, exactly mirroring
    // [[applyTombstones]] with the join flipped to semi
    val deletes = from.groupBy(_.takeWhile(_ != '/')).toSeq.sortBy(_._1).flatMap {
      case (dataDir, entries) =>
        val seqNo = scala.util.Try(dataDir.stripPrefix("data-").toLong)
          .getOrElse(Long.MaxValue)
        val applicableNew = newDels.filter(_._1 > seqNo)
        if (applicableNew.isEmpty) None
        else {
          val raw =
            if (entries.contains(dataDir)) openDirGroup(table, dataDir, Seq(dataDir), Some(toSnap))
            else openDirGroup(table, dataDir, entries, Some(toSnap))
          val base = raw.withColumn("__file", col("_metadata.file_path"))
            .withColumn("__pos", col("_metadata.row_index"))
          val alive = oldDels.filter(_._1 > seqNo).foldLeft(base) { case (d, (_, keys)) =>
            val ts = keys.toDF(keys.columns.map("__ts_" + _).toIndexedSeq: _*)
            d.join(ts, tombCond(d, ts, keys.columns.toSeq), "left_anti")
          }
          val matched = applicableNew.map { case (_, keys) =>
            val ts = keys.toDF(keys.columns.map("__ts_" + _).toIndexedSeq: _*)
            alive.join(ts, tombCond(alive, ts, keys.columns.toSeq), "left_semi")
          }.reduce(_.unionByName(_))
          Some(matched.dropDuplicates("__file", "__pos")
            .drop("__file", "__pos").withColumn("_change_type", lit("delete")))
        }
    }
    val parts = inserts ++ deletes
    if (parts.isEmpty)
      readSnapshot(table, toSnap).where(lit(false)).withColumn("_change_type", lit("insert"))
    else parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** BRANCH-ADDRESSABLE SQL — the reference's `NESSIE_REF` session
    * selector (gold_reporting.py:26: every statement of a session
    * targets one named ref). Session conf `spark.graft.branch`
    * (default `main`) scopes the WHOLE parsed-SQL surface: statement
    * pinning reads the branch's head, and INSERT / UPDATE / DELETE /
    * MERGE route their commits to the branch — `main` is untouched
    * until [[mergeBranch]] fast-forwards it. Programmatic APIs keep
    * their explicit branch parameters. */
  def sessionBranch: String = spark.conf.get("spark.graft.branch", "main")

  /** SQL `INSERT INTO table [(col, …)] <query>` — appends `df`, the
    * query's rows, as a new delta dir (O(rows inserted), nothing rewritten).
    * Without a column list, columns map POSITIONALLY onto the table
    * schema (the SQL rule); with one, the query's columns map
    * positionally onto the LISTED target columns and every unlisted
    * column inserts NULL (so it must be nullable) — the standard
    * partial-insert shape. Each written column is UP-CAST to the
    * table's declared type or the insert FAILS (Iceberg's rule) —
    * appending a differently-typed delta dir would silently
    * union-widen the whole column on every subsequent read. */
  def sqlInsert(table: String, df: DataFrame, partitionBy: Seq[String] = Nil,
      cols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    // the DECLARED schema, not read().schema — the read projection's
    // aliases drop StructField metadata, and the CURRENT_DEFAULT keys
    // (ADD COLUMN ... DEFAULT) must reach the unlisted-column fill
    val target = tableSchema(table, sessionBranch)
    def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    def upCastOk(s: org.apache.spark.sql.types.DataType,
        t: org.apache.spark.sql.types.DataType, name: String): Unit = {
      import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}
      // up-casts only, plus exact-decimal literals (`2.5` parses as
      // decimal(2,1)) into float/double — the ANSI store-assignment
      // shape every INSERT ... VALUES with a fractional literal hits
      val ok = s == t ||
        org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(s, t) ||
        (s.isInstanceOf[DecimalType] && (t == DoubleType || t == FloatType))
      require(ok,
        s"INSERT INTO $table: cannot write ${s.simpleString} " +
          s"into column $name ${t.simpleString} without loss; cast explicitly")
    }
    val aligned = if (cols.isEmpty) {
      require(df.columns.length == target.length,
        s"INSERT INTO $table needs ${target.length} columns, query has ${df.columns.length}")
      val a = df.toDF(target.fieldNames.toSeq: _*)
      target.fields.zip(a.schema.fields).foreach { case (t, s) =>
        upCastOk(s.dataType, t.dataType, t.name) }
      a
    } else {
      // explicit column list: listed columns take the query output
      // positionally, unlisted columns insert NULL (nullable only)
      val dup = cols.groupBy(lc).collectFirst { case (_, ns) if ns.length > 1 => ns.head }
      require(dup.isEmpty, s"INSERT INTO $table: duplicate column ${dup.getOrElse("")}")
      val listed = cols.map { c =>
        target.fields.find(f => lc(f.name) == lc(c)).getOrElse(
          throw new IllegalArgumentException(
            s"INSERT INTO $table: no such column $c (table has " +
              s"${target.fieldNames.mkString(", ")})"))
      }
      require(df.columns.length == listed.length,
        s"INSERT INTO $table (${cols.mkString(", ")}) lists ${listed.length} " +
          s"columns, query has ${df.columns.length}")
      listed.zip(df.schema.fields).foreach { case (t, s) =>
        upCastOk(s.dataType, t.dataType, t.name) }
      // positional mapping via fresh unique names — a query whose
      // output repeats a name (`SELECT k, k …`) must not go ambiguous
      val renamed = df.toDF(df.columns.indices.map(i => s"__ins_$i"): _*)
      val byListed = listed.map(f => lc(f.name)).zipWithIndex.toMap
      target.fields.toSeq.foreach { f =>
        require(byListed.contains(lc(f.name)) || f.nullable ||
          ColumnDefaults.currentSql(f).nonEmpty,
          s"INSERT INTO $table: unlisted column ${f.name} is not nullable")
      }
      renamed.select(target.fields.toSeq.map { f =>
        byListed.get(lc(f.name)) match {
          case Some(i) => col(s"__ins_$i").as(f.name)
          // unlisted: the column's CURRENT_DEFAULT when declared
          // (ADD COLUMN ... DEFAULT), else NULL
          case None => ColumnDefaults.currentSql(f) match {
            case Some(sql) => org.apache.spark.sql.functions.expr(sql)
              .cast(f.dataType).as(f.name)
            case None => lit(null).cast(f.dataType).as(f.name)
          }
        }
      }: _*)
    }
    val snap = append(
      aligned.select(target.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*),
      table, partitionBy, sessionBranch)
    refreshOwnView(table, partitionBy)
    snap
  }

  /** Register the current snapshot as a temp view for SQL access —
    * the `SHOW TABLES` / `SELECT * FROM catalog.table` path — and make
    * the table addressable by parsed SQL DML (`MERGE INTO` /
    * `DELETE FROM`, see [[GraftSqlParser]]). `partitionBy` is the
    * layout DML rewrites preserve. */
  def registerView(table: String, partitionBy: Seq[String] = Nil): Unit = {
    // canonical spec form so `bucket(16, c)` and `bucket(16,c)` are
    // one layout in the registry, the catalog, and every comparison
    val spec = Transforms.canon(partitionBy)
    read(table, sessionBranch).createOrReplaceTempView(table)
    LakehouseRegistry.register(spark, table, this, spec)
    persistCatalogEntry(table, spec)
    // persisted SQL views re-analyze over the FRESH base registration:
    // a temp view captures its plan at creation, so without this a
    // view would keep serving the base table's pre-DML files. Scoped
    // to views whose TEXT references this table (word match) — a DML
    // statement must not pay V unrelated analyses; openCatalog's
    // final pass restores the rest.
    registerSqlViews(touching = Some(table))
  }

  /** Re-point the session name at the snapshot a programmatic write
    * just committed — unless the name is registered to ANOTHER lake:
    * a same-named table in a second lake must not capture the SQL
    * name (and every later `SELECT`/`MERGE INTO` on it) just because
    * a write went through this handle. */
  private def refreshOwnView(table: String, partitionBy: Seq[String]): Unit =
    if (LakehouseRegistry.lookup(spark, table).forall(_._1.root == root))
      registerView(table, partitionBy)

  // ---- persisted plain SQL views ------------------------------------------
  //
  // `_views.jsonl` under the lake root records `CREATE VIEW v AS
  // <select>` statements — the Iceberg view-spec analog (the ad-hoc
  // saved-query surface of the reference's query notebook). Unlike
  // mviews these store NO data: the SQL text re-analyzes against the
  // session's registered lake tables on every (re-)registration, and
  // [[Lakehouse.openCatalog]] restores them in a fresh session.

  private def viewsPath = new Path(root, "_views.jsonl")
  private val ViewLine = """\{"view":"(.*?)","sql":"(.*)"\}""".r

  /** The persisted SQL views of this lake: (name, select text) in
    * creation order (a view may reference earlier views). */
  def sqlViews(): Seq[(String, String)] = readLines(viewsPath).flatMap {
    case ViewLine(v, s) => Some(unesc(v) -> unesc(s))
    case _ => None
  }

  /** `CREATE [OR REPLACE] VIEW name AS sql` — validate the text
    * analyzes NOW (loudly), refuse name collisions with tables,
    * materialized views and bucketed companions, persist the line,
    * register the session temp view. */
  def createSqlView(name: String, sql: String, orReplace: Boolean = false): Unit = {
    require(orReplace || !sqlViews().exists(_._1.equalsIgnoreCase(name)),
      s"view $name already exists (CREATE OR REPLACE VIEW to redefine)")
    require(!tableNames().exists(_.equalsIgnoreCase(name)),
      s"cannot CREATE VIEW $name: a lake table of that name exists")
    require(!MaterializedView.defs(this).exists(_.view.equalsIgnoreCase(name)),
      s"cannot CREATE VIEW $name: a materialized view of that name exists")
    require(!bucketedEntries().exists(_._1.equalsIgnoreCase(name)),
      s"cannot CREATE VIEW $name: a bucketed table of that name exists")
    // analyze eagerly — a broken view refuses at CREATE. One retry
    // after a full view re-registration (r17): when the new text
    // references an EARLIER view whose captured plan went stale under
    // concurrent schema evolution (Spark's
    // INCOMPATIBLE_COLUMN_CHANGES_AFTER_VIEW_WITH_PLAN_CREATION
    // validation — e.g. a racing ALTER flipped a column's
    // nullability), the dependency re-captures fresh and THIS text
    // analyzes against the current state; a genuinely broken view
    // still refuses loudly on the retry.
    val df = try spark.sql(sql)
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage != null &&
            e.getMessage.contains("since the view plan was initially captured") =>
        registerSqlViews()
        spark.sql(sql)
    }
    Lakehouse.locks.computeIfAbsent(viewsPath.toString, _ => new Object).synchronized {
      // OR REPLACE rewrites IN PLACE (replacing a base view must not
      // demote it below its dependents; restore order is additionally
      // FIXPOINT-iterated in registerSqlViews, so even a replace that
      // re-points a view at a LATER one restores). A found FLAG decides
      // append-vs-replace — content equality would duplicate the line
      // when the same text is re-issued.
      val newLine = s"""{"view":"${jsonEsc(name)}","sql":"${jsonEsc(sql)}"}"""
      var found = false
      val replaced = readLines(viewsPath).map {
        case ViewLine(v, _) if unesc(v).equalsIgnoreCase(name) =>
          found = true; newLine
        case l => l
      }
      writeFile(viewsPath,
        (if (found) replaced else replaced :+ newLine).mkString("\n") + "\n")
    }
    df.createOrReplaceTempView(name)
  }

  /** `DROP VIEW name` — retract the persisted line and the session
    * temp view; refuses unknown names (tables are not views). */
  def dropSqlView(name: String): Unit = {
    require(sqlViews().exists(_._1.equalsIgnoreCase(name)),
      s"$name is not a persisted view of this lake")
    Lakehouse.locks.computeIfAbsent(viewsPath.toString, _ => new Object).synchronized {
      val kept = readLines(viewsPath).filterNot {
        case ViewLine(v, _) => unesc(v).equalsIgnoreCase(name)
        case _ => false
      }
      if (kept.isEmpty) fs.delete(viewsPath, false)
      else writeFile(viewsPath, kept.mkString("\n") + "\n")
    }
    scala.util.Try(spark.catalog.dropTempView(name))
    ()
  }

  /** (Re-)register persisted views' temp views. `touching` scopes the
    * pass to the REFERENCE CLOSURE of that table: views naming it as a
    * word, plus views naming any view already in the set (views over
    * views), whatever their file order. Registration runs in
    * NAME-REFERENCE TOPOLOGICAL order — a view may depend on one
    * recorded LATER (CREATE OR REPLACE re-pointed it), so file order
    * alone is not a dependency order, and registering a dependent
    * first would silently capture its dependency's STALE pre-pass
    * plan. Cycles and ties keep file order; a view whose base was
    * dropped logs and skips instead of poisoning unrelated DML
    * (`DROP VIEW` is the cleanup). */
  private[sources] def registerSqlViews(touching: Option[String] = None): Unit = {
    val all = sqlViews()
    def word(t: String) = java.util.regex.Pattern.compile(
      "(?i)\\b" + java.util.regex.Pattern.quote(t) + "\\b")
    // reference edges are LITERAL-BLIND (r17, the r16 review nit): a
    // table/view name inside a quoted SQL string is data, not a
    // dependency — blank string literals (single- OR double-quoted,
    // doubled same-char = escape) before the word scan, so
    // `SELECT 'about vt_base' FROM other` neither re-registers on
    // vt_base DML nor perturbs the topological order
    def noLits(s: String): String = {
      val b = new java.lang.StringBuilder(s.length)
      var i = 0; var q: Char = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (q != 0) {
          if (c == q) {
            if (i + 1 < s.length && s.charAt(i + 1) == q) { b.append("  "); i += 1 }
            else { q = 0; b.append(' ') }
          } else b.append(' ')
        } else c match {
          case '\'' | '"' => q = c; b.append(' ')
          case other => b.append(other)
        }
        i += 1
      }
      b.toString
    }
    val bodyOf: Map[String, String] = all.map { case (v, s) => v -> noLits(s) }.toMap
    val scoped = touching match {
      case None => all
      case Some(t) =>
        val in = scala.collection.mutable.LinkedHashMap.empty[String, String]
        var frontier = Seq(t)
        while (frontier.nonEmpty) {
          val ws = frontier.map(word)
          frontier = all.collect {
            case (v, s) if !in.contains(v) && ws.exists(_.matcher(bodyOf(v)).find()) =>
              in(v) = s; v
          }
        }
        in.toSeq
    }
    // TOPOLOGICAL registration order by name-reference (a view naming
    // another registers AFTER it — fresh, never against the stale
    // pre-pass temp view); ties and cycles keep file order
    val names = scoped.map(_._1)
    val deps: Map[String, Seq[String]] = scoped.map { case (v, _) =>
      v -> names.filter(n => !n.equalsIgnoreCase(v) &&
        word(n).matcher(bodyOf(v)).find())
    }.toMap
    val ordered = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val done = scala.collection.mutable.HashSet.empty[String]
    var remaining = scoped
    var progress = true
    while (remaining.nonEmpty && progress) {
      progress = false
      val (ready, blocked) = remaining.partition { case (v, _) =>
        deps(v).forall(done.contains) }
      if (ready.nonEmpty) {
        progress = true; ordered ++= ready; done ++= ready.map(_._1)
        remaining = blocked
      }
    }
    (ordered ++ remaining).foreach { case (v, s) =>
      try spark.sql(s).createOrReplaceTempView(v)
      catch { case e: Exception => System.err.println(
        s"[graft] persisted view $v no longer analyzes (${e.getMessage}); " +
          "DROP VIEW it or re-create its base table") }
    }
  }

  // ---- persistent catalog -------------------------------------------------
  //
  // `_catalog.jsonl` under the lake root records every registered
  // table with its partition layout — the durable analog of the
  // reference's Nessie catalog, so a FRESH session (or process) can
  // re-register all views with `Lakehouse.openCatalog(spark, root)`
  // instead of losing DML routing when the in-memory registry dies
  // with the session.

  // `_mviews.jsonl` is the sibling ledger for materialized-view
  // DEFINITIONS (see [[MaterializedView]]): one JSON line per view so
  // `CALL system.refresh_mview(v)` can rebuild the ViewDef in a fresh
  // session. The refresh WATERMARK deliberately does NOT live here —
  // it rides the view table's own commit metadata, atomically with
  // the data (this file changes only on CREATE).
  private def mviewsPath = new Path(root, "_mviews.jsonl")

  private[sources] def readMviewLines(): Seq[String] = readLines(mviewsPath)

  private[sources] def upsertMviewLine(view: String, line: String): Unit =
    Lakehouse.locks.computeIfAbsent(mviewsPath.toString, _ => new Object).synchronized {
      val marker = s""""mview":"${jsonEsc(view)}""""
      val kept = readLines(mviewsPath).filterNot(_.contains(marker))
      writeFile(mviewsPath, (kept :+ line).mkString("", "\n", "\n"))
    }

  private[sources] def jsonEscape(s: String): String = jsonEsc(s)

  /** Tiny per-view auxiliary record beside `_mviews.jsonl` — used by
    * join-shaped views for the DIMENSION watermark (see
    * [[MaterializedView.refresh]] for why it can live outside the
    * commit without risking wrongness). */
  private[sources] def readMviewAux(view: String): Option[String] =
    readLines(new Path(root, s"_mview_aux_${view}.json")).headOption
  private[sources] def writeMviewAux(view: String, content: String): Unit =
    writeFile(new Path(root, s"_mview_aux_${view}.json"), content + "\n")

  /** Last-refresh MODE readout beside the aux ([[MaterializedView
    * .refresh]] writes it at every exit): `incremental` | `recompute`
    * plus a one-line note — the loud-staleness surface the `t.mviews`
    * relation exposes, so a min/max dashboard view silently
    * re-aggregating its fact on every dim change becomes VISIBLE
    * instead of a quiet cost (round-14 verdict ask #7). Advisory like
    * the dim aux: it never gates correctness. */
  private[sources] def readMviewRefreshNote(view: String): Option[(String, String)] =
    readLines(new Path(root, s"_mview_refresh_${view}.json")).headOption.map { l =>
      val i = l.indexOf('|')
      if (i < 0) (l, "") else (l.take(i), l.drop(i + 1))
    }
  private[sources] def writeMviewRefreshNote(view: String, mode: String,
      note: String): Unit =
    writeFile(new Path(root, s"_mview_refresh_${view}.json"), s"$mode|$note\n")

  /** `t.mviews` metadata relation — see [[MaterializedView.viewsDf]]. */
  def mviewsDf(table: String): DataFrame = MaterializedView.viewsDf(this, table)

  /** `t.views` metadata relation (r17): the LAKE's persisted SQL
    * views — name, recorded SELECT text, and creation ordinal (the
    * `_views.jsonl` line position, which CREATE OR REPLACE keeps and
    * DROP VIEW compacts — exactly the restore-order seed
    * [[registerSqlViews]] starts from). Views are lake-scoped, so any
    * registered table of the lake addresses the same relation, the
    * way `t.refs` reads the table's pointer topology. Reads the live
    * ledger: consistent with the file after OR REPLACE / DROP. */
  def viewsDf(): DataFrame =
    spark.createDataFrame(sqlViews().zipWithIndex.map {
      case ((v, s), i) => (v, s, i.toLong)
    }).toDF("view", "sql", "created_order")

  /** `SHOW CREATE TABLE` (r16, nested DEFAULTs r17) — the table's
    * FULL declared state as an executable statement list in spec
    * vocabulary: the CREATE TABLE with every column's current type
    * and top-level DEFAULT, one `ALTER TABLE … ADD COLUMNS` per
    * NESTED field carrying a DEFAULT (inline DEFAULT is not
    * expressible inside a STRUCT<> type — the add statement replays
    * the declaration the way it was made), the PARTITIONED BY spec,
    * then one CALL per auxiliary declaration (write sort order,
    * native-bloom columns). Replaying the list against a fresh root
    * rebuilds an equivalent table, nested defaults included: within
    * each struct, fields from the FIRST defaulted one onward move to
    * add statements in order — nested adds append, so the rebuilt
    * struct keeps the field order (EXISTS_DEFAULT back-fill remains a
    * property of THIS table's history, not of the rebuilt empty
    * one). */
  def showCreateStatements(table: String): Seq[String] = {
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}
    val schema = tableSchema(table)
    // prune a type for the CREATE statement: at each struct level
    // (struct, array element, map value), every field from the first
    // DEFAULT-carrying one onward is emitted as a nested add (its own
    // deep adds following), so appends reproduce the order exactly
    def prune(dt: DataType, path: String)
        : (DataType, Seq[(String, StructField, Option[String])]) = dt match {
      case st: StructType =>
        val rec = st.fields.toSeq.map { f =>
          val (pdt, childAdds) = prune(f.dataType, s"$path${f.name}.")
          (f.copy(dataType = pdt), childAdds)
        }
        val k = rec.indexWhere { case (f, _) =>
          ColumnDefaults.currentSql(f).isDefined }
        if (k < 0) (StructType(rec.map(_._1)), rec.flatMap(_._2))
        else {
          val (keep, moved) = rec.splitAt(k)
          val adds = moved.flatMap { case (f, childAdds) =>
            (s"$path${f.name}", f, ColumnDefaults.currentSql(f)) +: childAdds
          }
          (StructType(keep.map(_._1)), keep.flatMap(_._2) ++ adds)
        }
      case at: ArrayType =>
        val (e, adds) = prune(at.elementType, s"${path}element.")
        (at.copy(elementType = e), adds)
      case mt: MapType =>
        val (v, adds) = prune(mt.valueType, s"${path}value.")
        (mt.copy(valueType = v), adds)
      case other => (other, Seq.empty)
    }
    val pruned = schema.fields.toSeq.map { f =>
      val (pdt, adds) = prune(f.dataType, s"${f.name}.")
      (f.copy(dataType = pdt), adds)
    }
    def colDdl(f: StructField): String = {
      val base = s"${f.name} ${f.dataType.sql}"
      ColumnDefaults.currentSql(f).fold(base)(d => s"$base DEFAULT $d")
    }
    val spec = catalogEntries().find(_._1.equalsIgnoreCase(table))
      .map(_._2).getOrElse(Nil)
    val create = s"CREATE TABLE $table (" +
      pruned.map(p => colDdl(p._1)).mkString(", ") + ")" +
      (if (spec.nonEmpty) s" PARTITIONED BY (${spec.mkString(", ")})" else "")
    val nestedAdds = pruned.flatMap(_._2).map { case (p, f, d) =>
      s"ALTER TABLE $table ADD COLUMNS ($p ${f.dataType.sql}" +
        d.fold("")(x => s" DEFAULT $x") + ")"
    }
    val sortStmt = Some(sortOrderOf(table)).filter(_.nonEmpty)
      .map(cs => s"CALL system.set_sort_order('$table', '${cs.mkString(",")}')")
    val bloomStmt = Some(bloomDeclared(table).toSeq.sorted).filter(_.nonEmpty)
      .map(cs => s"CALL system.set_bloom_columns('$table', '${cs.mkString(",")}')")
    Seq(create) ++ nestedAdds ++ sortStmt ++ bloomStmt
  }

  /** Nested fields carrying a DEFAULT, as (dotted path in the nested
    * add vocabulary — `element` for array elements, `value` for map
    * values —, type SQL, default SQL): what DESCRIBE EXTENDED
    * surfaces beyond the top-level column rows (r17). */
  private def nestedDefaults(schema: org.apache.spark.sql.types.StructType)
      : Seq[(String, String, String)] = {
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
    def walk(dt: DataType, path: String): Seq[(String, String, String)] = dt match {
      case st: StructType => st.fields.toSeq.flatMap { f =>
        ColumnDefaults.currentSql(f).map(d =>
          (s"$path${f.name}", f.dataType.sql, d)).toSeq ++
          walk(f.dataType, s"$path${f.name}.")
      }
      case at: ArrayType => walk(at.elementType, s"${path}element.")
      case mt: MapType => walk(mt.valueType, s"${path}value.")
      case _ => Seq.empty
    }
    schema.fields.toSeq.flatMap(f => walk(f.dataType, s"${f.name}."))
  }

  /** `DESCRIBE EXTENDED` rows (r16): every column with its type and
    * DEFAULT, then the declared-state block — partition spec, sort
    * order, bloom columns, branches, snapshot state, location. One
    * statement for what was previously a metadata-table scavenger
    * hunt. */
  def describeRows(table: String): Seq[(String, String, String)] = {
    val schema = tableSchema(table)
    val cols = schema.fields.toSeq.map { f =>
      (f.name, f.dataType.sql,
        ColumnDefaults.currentSql(f).map(d => s"DEFAULT $d").orNull)
    } ++ nestedDefaults(schema).map { case (p, t, d) =>
      // NESTED defaults get their own dotted-path rows (r17): the
      // top-level row's type SQL cannot carry them
      (p, t, s"DEFAULT $d")
    }
    val spec = catalogEntries().find(_._1.equalsIgnoreCase(table))
      .map(_._2).getOrElse(Nil)
    cols ++ Seq(
      ("", "", null),
      ("# Detailed Table Information", "", null),
      ("Location", s"$root/$table", null),
      ("Partition Spec", spec.mkString(", "), null),
      ("Sort Order", sortOrderOf(table).mkString(", "), null),
      ("Bloom Columns", bloomDeclared(table).toSeq.sorted.mkString(", "), null),
      ("Branches", branches(table).mkString(", "), null),
      ("Current Snapshot", currentSnapshot(table).fold("")(_.toString), null),
      ("Snapshots", snapshots(table).size.toString, null),
      ("Type", if (MaterializedView.defs(this)
          .exists(_.view.equalsIgnoreCase(table)))
        "materialized_view" else "table", null))
  }

  private def catalogPath = new Path(root, "_catalog.jsonl")
  private val CatalogLine = """\{"table":"(.*)","partitionBy":\[([^\]]*)\]\}""".r

  /** Parsed `_catalog.jsonl`: table → partition layout. Entries are
    * extracted as quoted tokens, NOT by splitting on commas — a
    * transform spec like `"bucket(16,c)"` carries a comma inside its
    * quotes. */
  def catalogEntries(): Seq[(String, Seq[String])] =
    readLines(catalogPath).flatMap {
      case CatalogLine(t, cols) =>
        Some(unesc(t) -> """"([^"]*)"""".r.findAllMatchIn(cols)
          .map(_.group(1)).filter(_.nonEmpty).toSeq)
      case _ => None
    }

  /** Upsert one table's catalog line; no-op when unchanged (DML
    * re-registers on every statement — don't rewrite metadata then).
    * Rewrites replace only THIS table's view line: other line kinds
    * (bucketed entries) and other tables' lines pass through verbatim. */
  private def persistCatalogEntry(table: String, partitionBy: Seq[String]): Unit =
    Lakehouse.locks.computeIfAbsent(catalogPath.toString, _ => new Object).synchronized {
      val newLine = s"""{"table":"${jsonEsc(table)}","partitionBy":[${
        partitionBy.map(c => s""""$c"""").mkString(",")}]}"""
      val lines = readLines(catalogPath)
      if (!lines.contains(newLine)) {
        val kept = lines.filterNot {
          case CatalogLine(t, _) => unesc(t) == table
          case _ => false
        }
        writeFile(catalogPath, (kept :+ newLine).mkString("\n") + "\n")
        Lakehouse.catalogEpoch.incrementAndGet()
      }
    }

  private val BucketedLine =
    """\{"bucketed":"(.*)","bucketBy":\[([^\]]*)\],"nBuckets":(\d+),"path":"(.*)"\}""".r

  /** Parsed bucketed-table catalog lines: (table, bucketBy, n, path). */
  def bucketedEntries(): Seq[(String, Seq[String], Int, String)] =
    readLines(catalogPath).flatMap {
      case BucketedLine(t, cols, n, p) =>
        Some((unesc(t), cols.split(",").toSeq
          .map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty),
          n.toInt, unesc(p)))
      case _ => None
    }

  /** Write a BUCKETED companion table under the lake root and record
    * it in `_catalog.jsonl` — the pre-shuffled layout that turns every
    * fact-fact equi-join on `bucketCols` into a shuffle-free local
    * merge, now durable: [[registerCatalog]] (openCatalog) re-creates
    * the catalog bucket spec in a fresh session/process, so the
    * layout's cost is paid once and the shuffle-free plan survives
    * restarts (the Iceberg analog: a bucket-partition-spec table in a
    * persistent catalog). */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      nBuckets: Int): Unit = {
    val path = new Path(root, s"_bucketed/$table").toString
    Bucketed.write(df, table, bucketCols, nBuckets, path)
    Lakehouse.locks.computeIfAbsent(catalogPath.toString, _ => new Object).synchronized {
      val newLine = s"""{"bucketed":"${jsonEsc(table)}","bucketBy":[${
        bucketCols.map(c => s""""$c"""").mkString(",")
        }],"nBuckets":$nBuckets,"path":"${jsonEsc(path)}"}"""
      val lines = readLines(catalogPath)
      if (!lines.contains(newLine)) {
        val kept = lines.filterNot {
          case BucketedLine(t, _, _, _) => unesc(t) == table
          case _ => false
        }
        writeFile(catalogPath, (kept :+ newLine).mkString("\n") + "\n")
        Lakehouse.catalogEpoch.incrementAndGet()
      }
    }
  }

  /** Re-register every cataloged table in THIS handle's session —
    * temp views plus DML routing, with the persisted layouts; bucketed
    * companions get their catalog bucket spec re-created so their
    * joins stay shuffle-free. */
  def registerCatalog(): Unit = {
    catalogEntries().foreach { case (t, p) => registerView(t, p) }
    bucketedEntries().foreach { case (t, cols, n, p) =>
      if (!spark.catalog.tableExists(t)) Bucketed.register(spark, t, cols, n, p)
    }
    // persisted SQL views restore LAST: their text analyzes against
    // the tables registered above (registerView also refreshes them,
    // but a catalog of only bucketed entries needs this explicit pass)
    registerSqlViews()
  }

  /** STORAGE-PARTITIONED-JOIN layout of a table hidden-partitioned by
    * one `bucket(n,k)` transform: the logical schema, the bucket
    * column, the bucket count, and every committed data file grouped
    * by its bucket value (with lengths, so the scan plans without
    * re-stat-ing). This is what [[graft.sources.spj.GraftSpjCatalog]]
    * serves to Spark as a DSv2 table reporting `KeyGroupedPartitioning`
    * — the Iceberg SPJ shape, where two tables sharing the transform
    * join with NO Exchange because the planner proves each bucket is
    * already co-located.
    *
    * Merge-on-read TOMBSTONES are served: the layout carries them
    * canonicalized ([[SpjTombstone]]) and the DSv2 reader anti-filters
    * per file by sequence — rows filter, partitions don't move, so the
    * Exchange-free join property survives a MoR-maintained table.
    * Committed SCHEMA EVOLUTION is served through per-dir conform
    * projections ([[SpjDirConform]]). Remaining strictness (loud
    * refusal beats a silently-wrong Exchange-free plan):
    *  - every data dir must carry the SAME layout spec (mixed-spec
    *    tables from partition evolution must be rewritten first);
    *  - tombstones AND evolution together refuse (key canonicalization
    *    across physical type changes is unprovable — compact() first);
    *  - renamed partition columns refuse (the bucket hash and the
    *    reported partitioning resolve against the declared schema).
    */
  private[graft] def spjLayout(table: String, branch: String = "main",
      atSnapshot: Option[Long] = None): SpjLayout = {
    val snap = atSnapshot.getOrElse(currentSnapshot(table, branch).getOrElse(
      throw new IllegalArgumentException(s"no such table/branch: $table@$branch")))
    // LAYOUT CACHE (r14): everything a layout is built from is
    // immutable AT a snapshot — data dirs and their ledgers are
    // write-once, tombstone dirs are referenced by snapshot id, schema
    // evolution commits new snapshots — EXCEPT the declared catalog
    // spec (mutable without a snapshot, feeds flat/empty writeSpec)
    // and the tombstone broadcast gate (a session conf that picks the
    // representation): both join the key. SPJ statements load the
    // layout several times per query (plan, row-level scan, commit
    // re-check); the cache makes every load after the first a map hit
    // instead of a manifest+ledger+fs walk — the round-13 bench drift
    // on the SPJ lifecycle queries was exactly this cost.
    val stamp = scala.util.Try {
      val st = fs.getFileStatus(catalogPath)
      (st.getModificationTime, st.getLen, Lakehouse.catalogEpoch.get)
    }.getOrElse((0L, 0L, Lakehouse.catalogEpoch.get))
    // the snapshot's COMMIT WALL-CLOCK joins the key: a table dropped
    // and re-created at the same path restarts its snapshot counter,
    // and (path, snap) alone would serve the dead table's layout
    val committedAt = snapshotTimes(table).collectFirst {
      case (s, t) if s == snap => t
    }.getOrElse(0L)
    val key = (tableDir(table).toString, snap, committedAt, stamp, spjTombstoneGate)
    val cached = Lakehouse.spjLayoutCache.synchronized {
      Option(Lakehouse.spjLayoutCache.get(key))
    }
    cached.getOrElse {
      val built = spjLayoutBuild(table, branch, snap)
      Lakehouse.spjLayoutCache.synchronized {
        Lakehouse.spjLayoutCache.put(key, built)
      }
      built
    }
  }

  /** The relation SQL statements read a registered name through, at
    * the branch head or at `atSnapshot`: the DSv2 scan of
    * [[graft.sources.spj.GraftSpjCatalog]] over the cached [[spjLayout]]
    * when [[spjServableSpec]] admits the table at that snapshot — one
    * scan with per-file tombstone anti-filters, pushed aggregates and
    * LIMIT/TopN caps, zero data-dir opens at plan time — else the
    * ordinary per-dir union of [[readSnapshot]]. Both return the same
    * rows; the relation is read-only, so DML on the name keeps routing
    * through the lakehouse commands. */
  private[graft] def sqlRelation(table: String, branch: String,
      atSnapshot: Option[Long] = None): DataFrame = {
    val snap = atSnapshot.orElse(currentSnapshot(table, branch)).getOrElse(
      throw new IllegalArgumentException(s"no such table/branch: $table@$branch"))
    spjServableSpec(table, branch, Some(snap))
      .flatMap(_ => scala.util.Try(spjLayout(table, branch, Some(snap))).toOption)
      .map(layout => graft.sources.spj.SpjRelation.read(spark, root, table, branch, layout))
      .getOrElse(readSnapshot(table, snap))
  }

  private def spjLayoutBuild(table: String, branch: String, snap: Long): SpjLayout = {
    val entries = snapshots(table).find(_._1 == snap)
      .getOrElse(throw new IllegalArgumentException(s"$table has no snapshot $snap"))._2
    // MERGE-ON-READ tombstones and committed schema evolution are each
    // SERVED (tombstones as per-file anti-filters in the DSv2 reader,
    // evolution as per-dir conform projections) — and they COMPOSE:
    // positional tombstones name rows by (file, row-index) under any
    // schema, and EQUALITY tombstones serve when every key column,
    // FORWARD-MAPPED through the renames committed after the delete,
    // still resolves in the declared schema within the same canonical
    // comparison domain ([[SpjLayout.canonCompatible]] — integral
    // families widen through [[SpjLayout.canonKey]], so int→bigint
    // promotion is safe; a dropped key column or a cross-domain type
    // change refuses loudly — a silently-missed key is a resurrection
    // bug). The mapped names are what the reader binds per dir (its
    // reverse-rename machinery then finds each dir's physical column).
    val evoLines = schemaLines(table)
    val deletes: Seq[SpjTombstone] = {
      val loaded = spjTombstones(table, snap)
      if (evoLines.isEmpty) loaded
      else {
        // one key-mapping for BOTH equality representations (broadcast
        // and lazy): forward-map each key column's name through the
        // renames committed after the delete, refuse loudly when it no
        // longer resolves canonically — a silently-missed key is a
        // resurrection bug, identically on either path
        def mapKeyCols(tseq: Long,
            keyCols: Seq[(String, org.apache.spark.sql.types.DataType)])
            : Seq[(String, org.apache.spark.sql.types.DataType)] = {
          val declared = declaredSchema(table, snap).getOrElse(
            throw new IllegalStateException(s"$table: evolution lines without a declared schema"))
          keyCols.map { case (n, dt) =>
            val mapped = evoLines.filter(l => l._1 > tseq && l._1 <= snap)
              .flatMap(_._3).foldLeft(n) { case (cur, (from, to)) =>
                if (from.equalsIgnoreCase(cur)) to else cur
              }
            val df = declared.fields.find(_.name.equalsIgnoreCase(mapped)).getOrElse(
              throw new IllegalArgumentException(
                s"$table@$branch: equality-tombstone key '$n' no longer resolves " +
                  "after schema evolution — compact() to materialize the deletes"))
            require(SpjLayout.canonCompatible(dt, df.dataType),
              s"$table@$branch: equality-tombstone key '$n' changed type " +
                s"(${dt.simpleString} -> ${df.dataType.simpleString}) beyond the " +
                "canonical comparison domain — compact() to materialize the deletes")
            (df.name, dt)
          }
        }
        loaded.map {
          case t: SpjEqTombstone => t.copy(keyCols = mapKeyCols(t.seq, t.keyCols))
          case t: SpjEqTombstoneFiles => t.copy(keyCols = mapKeyCols(t.seq, t.keyCols))
          case t => t
        }
      }
    }
    val dataDirs0 = entries.map(_.takeWhile(_ != '/')).distinct
    // ZERO-ROW SCHEMA-MARKER dirs don't constrain the layout: an empty
    // `CREATE TABLE` and a rewrite that deleted every row both commit
    // one unpartitioned schema-bearing file — provably row-free via
    // the rowcount ledger (unrecorded counts stay constraining). They
    // carry the schema but no layout and no data.
    def emptyMarker(d: String): Boolean =
      physDirLayout(table, d).isEmpty && {
        val rc = readRowCounts(table, d)
        rc.nonEmpty && rc.values.forall(_._1 == 0L)
      }
    val (markerDirs, dataDirs) = dataDirs0.partition(emptyMarker)
    // DEGRADED (flat-group) service for layout shapes the SPJ claims
    // can't cover — MIXED specs from partition evolution, deeper or
    // exotic transforms: the catalog still serves a CLAIM-FREE scan —
    // UnknownPartitioning, no co-location / layout pruning /
    // grouped-agg claims, but stats pruning, tombstones, evolution
    // conforms, metadata columns and row-level ops all keep working.
    // IDENTITY levels mix in too (round-14): each identity dir's value
    // is right there in its `col=value` path segment, so the reader
    // re-injects it PER FILE through the same partitionValues
    // mechanism uniform identity layouts use ([[SpjFile.pathVals]] +
    // [[SpjLayout.dirStrips]]) — a table that partition-evolved FROM
    // `PARTITIONED BY (status)` TO `bucket(8,k)` reads claim-free
    // instead of dead-ending. A RENAAMED strip column serves too
    // (r15): the dir's path segment carries the dir-time PHYSICAL
    // name, so each strip forward-maps through the renames committed
    // after its dir ([[NestedSchema.fwdPath]]) to the DECLARED field
    // the reader injects under — name recycling is globally refused,
    // which is what makes the full-chain forward map per-dir exact.
    // A mixed-layout table degrades to an ordinary scan instead of
    // dead-ending the whole DSv2 surface.
    def flatStrips(d: String): Seq[String] =
      physDirLayout(table, d).filterNot(_.startsWith("_p_"))
    // physical strip name -> the DECLARED field it resolves to at
    // `snap` (identity when never renamed)
    def declStrip(c: String): String =
      NestedSchema.fwdPath(evoLines.filter(_._1 <= snap).flatMap(_._3), c)
    def canFlat: Boolean = dataDirs.nonEmpty && {
      val ms = metaSchema(table, entries, snap)
      dataDirs.forall(d => flatStrips(d).forall(c =>
        ms.exists(_.fields.exists(f => f.name.equalsIgnoreCase(declStrip(c)) &&
          SpjLayout.supportedIdentityType(f.dataType)))))
    }
    def finishFlat(): SpjLayout = {
      val schema = metaSchema(table, entries, snap).getOrElse(
        throw new IllegalStateException(s"cannot resolve a schema for $table@$snap"))
      val stripsOf: Map[String, Seq[String]] =
        dataDirs.map(d => d -> flatStrips(d)).toMap
      // the reader addresses strips by their DECLARED names (the
      // variant schemas, pathVals keys and dirStrips all agree);
      // only the path-segment markers keep the dir-time physical name
      val declStripsOf: Map[String, Seq[String]] =
        stripsOf.map { case (d, ss) => d -> ss.map(declStrip) }
      val dirConformsF: Map[String, SpjDirConform] =
        if (evoLines.isEmpty) Map.empty
        else dataDirs.map { d =>
          val seqD = scala.util.Try(d.stripPrefix("data-").toLong)
            .getOrElse(Long.MaxValue)
          val phys = dirSchema(table, d).getOrElse(throw new IllegalArgumentException(
            s"$table's $d predates schema recording — compact() before an SPJ read " +
              "of an evolved table"))
          val strips = stripsOf(d)
          d -> SpjDirConform(
            org.apache.spark.sql.types.StructType(
              phys.fields.filterNot(f => f.name.startsWith("_p_") ||
                strips.exists(_.equalsIgnoreCase(f.name)))),
            evoLines.filter(l => l._1 > seqD && l._1 <= snap).flatMap(_._3))
        }.toMap
      val fileEntries = entries.filterNot(e => markerDirs.contains(e.takeWhile(_ != '/')))
      val files = fileEntries.groupBy(_.takeWhile(_ != '/')).toSeq
        .flatMap { case (dataDir, es) =>
          val roots = if (es.contains(dataDir)) Seq(dataDir) else es
          val dirStats: Map[String, Map[String, (String, String, String)]] =
            readStats(table, dataDir).groupBy(_._1).map { case (rel, ss) =>
              rel -> ss.map(s => s._2 -> ((s._3, s._4, s._5))).toMap
            }
          val dirRows = readRowCounts(table, dataDir)
          val dirSums = readSumsLedger(table, dataDir)
          val dirSort = dirSortChain(table, dataDir)
          val dirMarker = "/" + dataDir + "/"
          val strips = stripsOf(dataDir)
          roots.flatMap { e =>
            val p = new Path(tableDir(table), e)
            if (fs.exists(p)) dataFiles(p) else Seq.empty
          }.map { st =>
            val full = st.getPath.toString
            val rel = full.substring(full.indexOf(dirMarker) + 1)
            // the identity level(s)' RAW path segments, re-injected per
            // file by the reader (unescaped/decoded there)
            val pv = strips.map { c =>
              val marker = "/" + c + "="
              val at = full.indexOf(marker)
              require(at >= 0, s"data file outside its identity layout: $full")
              declStrip(c) -> full.substring(at + marker.length).takeWhile(_ != '/')
            }.toMap
            SpjFile(full, st.getLen, dirStats.getOrElse(rel, Map.empty),
              rows = dirRows.get(rel).map(_._1),
              nulls = dirRows.get(rel).map(_._2).getOrElse(Map.empty),
              sums = dirSums.getOrElse(rel, Map.empty),
              sortedBy = dirSort,
              entry = rel.take(rel.lastIndexOf('/')),
              pathVals = pv)
          }
        }.sortBy(_.path)
      val g = math.max(1,
        math.min(files.length, spark.sparkContext.defaultParallelism * 2))
      val fmap = files.zipWithIndex.groupBy(_._2 % g)
        .map { case (i, fsI) => i -> fsI.map(_._1) }
      val declaredSpec = catalogEntries().collectFirst {
        case (t, sp) if t == table && sp.nonEmpty => Transforms.canon(sp)
      }
      SpjLayout(schema, "", g, fmap, flatGroups = true,
        writeSpec = Some(declaredSpec.getOrElse(Nil)),
        snapshot = snap, deletes = deletes, dirConforms = dirConformsF,
        dirStrips = declStripsOf.filter(_._2.nonEmpty))
    }
    val physLevels = dataDirs.map(d => physDirLayout(table, d)).distinct match {
      case Seq() =>
        // nothing but markers: a freshly created (or fully emptied)
        // table serves EMPTY under its DECLARED catalog spec — what
        // makes `CREATE TABLE cat.t … PARTITIONED BY …` immediately
        // loadable, so the first INSERT INTO can plan
        val declared = catalogEntries().collectFirst {
          case (t, spec) if t == table && spec.nonEmpty => spec
        }.getOrElse(throw new IllegalArgumentException(
          s"$table holds no partitioned data and declares no layout — " +
            "storage-partitioned reads need a spec (CREATE TABLE … PARTITIONED BY)"))
        Transforms.canon(declared).map(s => Transforms.parse(s).phys)
      case Seq(levels) if levels.nonEmpty && levels.length <= 2 => levels
      case other =>
        if (canFlat) return finishFlat()
        throw new IllegalArgumentException(
          s"$table is not uniformly 1- or 2-level-partitioned (layouts: ${
            other.map(_.mkString("/")).mkString("; ")}) and cannot degrade to a " +
            "flat scan: every identity level must still resolve under its ORIGINAL " +
            "declared name with a string/integral/date type (a renamed or dropped " +
            "path-borne partition column desyncs the injection — compact() under " +
            "the current schema first)")
    }
    val BucketSpecRe = """bucket\((\d+),(.+)\)""".r
    val TimeSpecRe = """(days|months|years|hours)\((.+)\)""".r
    // accepted shapes: [bucket(n,k)] | [identity] |
    // [identity | days/months/years/hours, bucket(n,k)] — the Iceberg
    // fact canon: a low-cardinality dimension or a calendar transform
    // over hash buckets. outerPhys/bucketPhys are the PHYSICAL dir
    // names; `outerIsTime` marks a derived (non-column) outer key.
    val (outerPhys, outerIsTime, bucketLevel0) =
      physLevels.map(p => (p, Transforms.specOfPhys(p))) match {
        case Seq((bp, BucketSpecRe(nn, c))) => (None, false, Some((bp, nn.toInt, c)))
        case Seq((ip, s)) if !s.contains("(") => (Some(ip), false, None)
        case Seq((ip, s), (bp, BucketSpecRe(nn, c))) if !s.contains("(") =>
          (Some(ip), false, Some((bp, nn.toInt, c)))
        case Seq((tp, TimeSpecRe(_, _)), (bp, BucketSpecRe(nn, c))) =>
          (Some(tp), true, Some((bp, nn.toInt, c)))
        case other =>
          if (canFlat) return finishFlat()
          throw new IllegalArgumentException(
            s"$table is partitioned by ${other.map(_._2).mkString(", ")} — " +
              "storage-partitioned reads serve bucket(n,k), identity, " +
              "identity+bucket, and time-transform+bucket layouts; other shapes " +
              "degrade to a flat scan only while every identity level " +
              "(forward-mapped through any renames) resolves to a declared " +
              "column with a string/integral/date type")
      }
    val schema = metaSchema(table, entries, snap).getOrElse(
      throw new IllegalStateException(s"cannot resolve a schema for $table@$snap"))
    // walk committed entries once per data dir (a whole-dir entry is
    // authoritative over leaf entries of the same dir, mirroring
    // readSnapshot's grouping), collecting (partition values, path, length)
    val outerMarker = outerPhys.map(p => "/" + p + "=")
    val bucketMarker = bucketLevel0.map { case (bp, _, _) => "/" + bp + "=" }
    def segmentAfter(full: String, marker: String): String = {
      val at = full.indexOf(marker)
      require(at >= 0, s"data file outside the partition layout: $full")
      full.substring(at + marker.length).takeWhile(_ != '/')
    }
    // marker dirs hold no data files — walking them would trip the
    // outside-the-layout guard on their schema-bearing empty parquet
    val fileEntries = entries.filterNot(e => markerDirs.contains(e.takeWhile(_ != '/')))
    val files = fileEntries.groupBy(_.takeWhile(_ != '/')).toSeq.flatMap { case (dataDir, es) =>
      val roots = if (es.contains(dataDir)) Seq(dataDir) else es
      // the dir's stats ledger, keyed by table-relative path — carried
      // per file so the DSv2 scan can range-prune against pushed
      // filters without re-reading any ledger at plan time
      val dirStats: Map[String, Map[String, (String, String, String)]] =
        readStats(table, dataDir).groupBy(_._1).map { case (rel, ss) =>
          rel -> ss.map(s => s._2 -> ((s._3, s._4, s._5))).toMap
        }
      val dirRows = readRowCounts(table, dataDir)
      val dirSums = readSumsLedger(table, dataDir)
      val dirSort = dirSortChain(table, dataDir)
      val dirMarker = "/" + dataDir + "/"
      roots.flatMap { e =>
        val p = new Path(tableDir(table), e)
        (if (fs.exists(p)) dataFiles(p) else Seq.empty).map(e -> _)
      }.map { case (e, st) =>
        val full = st.getPath.toString
        val outerVal = outerMarker.map(segmentAfter(full, _))
        val bucketVal = bucketMarker.map(segmentAfter(full, _).toInt)
        val rel = full.substring(full.indexOf(dirMarker) + 1)
        ((outerVal, bucketVal),
          SpjFile(full, st.getLen, dirStats.getOrElse(rel, Map.empty),
            rows = dirRows.get(rel).map(_._1),
            nulls = dirRows.get(rel).map(_._2).getOrElse(Map.empty),
            sums = dirSums.getOrElse(rel, Map.empty),
            sortedBy = dirSort,
            // the PARTITION-LEAF entry this file belongs to — the
            // replace granularity of the copy-on-write row-level ops
            // (leaves are carried or rewritten whole; whole-dir ledger
            // entries are exploded to the same leaves by
            // [[replaceEntries]], exactly as [[deleteWhere]] classifies)
            entry = rel.take(rel.lastIndexOf('/'))))
      }
    }
    def grouped(index: ((Option[String], Option[Int])) => Int): Map[Int, Seq[SpjFile]] =
      files.groupBy(e => index(e._1)).map { case (i, fs0) =>
        i -> fs0.map(_._2).sortBy(_.path)
      }
    // identity keys: one per distinct path value, dir-value-sorted for
    // a deterministic partition order; keys decode to the column's
    // INTERNAL form (what partitionKey() and the group-by readout both
    // hand Spark)
    def identityKeysOf(col: String): IndexedSeq[(String, Any)] = {
      val f = schema.fields.find(_.name == col).getOrElse(
        throw new IllegalStateException(
          s"$table's recorded schema is missing its partition column $col"))
      files.flatMap(_._1._1).distinct.sorted
        .map(raw => SpjLayout.decodeIdentity(f.dataType, raw)).toIndexedSeq
    }
    val layout0 = (outerPhys, bucketLevel0) match {
      case (None, Some((_, n, keyCol))) =>
        SpjLayout(schema, keyCol, n, grouped(_._2.get))
      case (Some(outer), None) =>
        val idCol = Transforms.specOfPhys(outer)
        val keys = identityKeysOf(idCol)
        val idx = keys.map(_._1).zipWithIndex.toMap
        SpjLayout(schema, idCol, keys.length,
          grouped(e => idx(SpjLayout.unescapePath(e._1.get))),
          identityKeys = Some(keys))
      case (Some(outer), Some((_, n, keyCol))) if outerIsTime =>
        // composite index over a DERIVED outer key: the dir value is
        // the transform's long (epoch days/months/years/hours), no
        // schema column to decode against — null-ts rows land in the
        // Hive null dir and carry a null outer key
        val keys = files.flatMap(_._1._1).distinct.sorted
          .map(raw => SpjLayout.decodeDerivedLong(raw)).toIndexedSeq
        val idx = keys.map(_._1).zipWithIndex.toMap
        SpjLayout(schema, keyCol, n,
          grouped(e => idx(SpjLayout.unescapePath(e._1.get)) * n + e._2.get),
          identityKeys = Some(keys),
          outerTransformSpec = Some(Transforms.specOfPhys(outer)))
      case (Some(outer), Some((_, n, keyCol))) =>
        // composite index: partition (idIdx, bucket) = idIdx * n + bucket
        val idCol = Transforms.specOfPhys(outer)
        val keys = identityKeysOf(idCol)
        val idx = keys.map(_._1).zipWithIndex.toMap
        SpjLayout(schema, keyCol, n,
          grouped(e => idx(SpjLayout.unescapePath(e._1.get)) * n + e._2.get),
          identityKeys = Some(keys), outerCol = Some(idCol))
      case (None, None) => throw new IllegalStateException("unreachable layout shape")
    }
    // SCHEMA-EVOLVED tables: per-data-dir conform materials for the
    // DSv2 reader — the dir's recorded physical file schema (minus the
    // hidden `_p_…` layout columns) and the renames committed AFTER the
    // dir was written and at-or-before the read snapshot (exactly
    // [[alignToDeclared]]'s window). Partition columns must have kept
    // their names across the whole history: the bucket hash, the
    // identity dir decode and the reported KeyGroupedPartitioning all
    // resolve them against the DECLARED schema, so a renamed partition
    // column would silently break co-partitioning. Type WIDENING on a
    // partition column is fine — the layout hash and the dir encoding
    // both run over cast-to-string values, which widening preserves.
    val dirConforms: Map[String, SpjDirConform] =
      if (evoLines.isEmpty) Map.empty
      else {
        // every column the layout derives from: identity, bucket key,
        // AND a time-transform outer's SOURCE column (identityCol is
        // None for transform outers, but the derived dirs still encode
        // days(ts) etc. of a declared column — a renamed source would
        // desync pruning and the reported partitioning just the same)
        val partCols = layout0.identityCol.toSeq ++
          layout0.bucketLevel.map(_._2).toSeq ++
          layout0.outerTransformSpec.map(s => Transforms.parse(s).source)
        val renamedParts = evoLines.flatMap(_._3).filter { case (from, to) =>
          partCols.contains(from) || partCols.contains(to)
        }
        require(renamedParts.isEmpty,
          s"$table renamed a partition column (${renamedParts.map { case (f, t) => s"$f>$t" }
            .mkString(", ")}) — compact() under the current schema before an SPJ read")
        dataDirs.map { d =>
          val seqD = scala.util.Try(d.stripPrefix("data-").toLong)
            .getOrElse(Long.MaxValue)
          val phys = dirSchema(table, d).getOrElse(throw new IllegalArgumentException(
            s"$table's $d predates schema recording — compact() before an SPJ read " +
              "of an evolved table"))
          d -> SpjDirConform(
            org.apache.spark.sql.types.StructType(
              phys.fields.filterNot(_.name.startsWith("_p_"))),
            evoLines.filter(l => l._1 > seqD && l._1 <= snap).flatMap(_._3))
        }.toMap
      }
    // the snapshot the layout was resolved at — what the row-level ops'
    // conditional commit pins against (a moved branch means the
    // rewrite's carried rows are stale: refuse, never clobber)
    layout0.copy(snapshot = snap, deletes = deletes, dirConforms = dirConforms)
  }

  /** Plan-time load of the merge-on-read tombstones `snap` references,
    * canonicalized for the DSv2 read path — SIZE-GATED, because "load"
    * here means a driver `executeCollect` and a wide low-selectivity
    * MoR update on a big table (exactly the regime the delta mode
    * targets) accumulates a tombstone payload that would OOM every
    * query PLAN. Under the gate ([[Lakehouse.SpjTombstoneGateBytes]]
    * of on-disk tombstone bytes, conf
    * `spark.graft.spj.tombstone-broadcast-bytes`): collect and
    * broadcast as before — positional dirs to normalized-path →
    * sorted-position maps, equality dirs to canonical key-tuple sets
    * ([[SpjLayout.canonKey]]), the same sets the ordinary read path
    * broadcasts per query. ABOVE the gate:
    *  - POSITIONAL dirs stay executor-side ([[SpjPosTombstoneFiles]]):
    *    the layout records only the dir's parquet slices with their
    *    `__file` footer bounds (O(slices) driver footer reads, never
    *    O(rows)), and each scan task anti-joins just the slices naming
    *    its own file — Iceberg's position-delete read path; plan cost
    *    stays flat however wide the update was;
    *  - EQUALITY dirs stay executor-side too (r17,
    *    [[SpjEqTombstoneFiles]]): the layout records the key COLUMNS
    *    (schema-only footer read) and the dir's parquet slices; each
    *    EXECUTOR materializes the canonical key-tuple set once from
    *    the slices — a single-flight, LRU-bounded JVM cache keyed by
    *    the write-once dir's (paths, bytes) identity — and every task
    *    on that executor probes the shared set. The driver never
    *    holds a key; plan cost is one footer read. Key types without
    *    a canonical comparison domain ([[SpjLayout.canonKey]] would
    *    throw executor-side) refuse at PLAN time instead, and
    *    [[spjServableSpec]] applies the same type test, so SHOW
    *    TABLES never advertises what the load would refuse. */
  private def spjTombstones(table: String, snap: Long): Seq[SpjTombstone] =
    snapshotDeletes(table).getOrElse(snap, Seq.empty).map { d =>
      val seq = d.stripPrefix("_deletes-").toLong
      val df = readTombstoneDir(table, d)
      val positional = df.columns.toSeq == Seq("__file", "__pos")
      val slices = tombstoneSlices(table, d)
      if (slices.map(_._2).sum > spjTombstoneGate) {
        if (positional) SpjPosTombstoneFiles(seq, withFileBounds(slices))
        else {
          val fields = df.schema.fields.toSeq
          fields.foreach(f => require(
            SpjLayout.canonCompatible(f.dataType, f.dataType),
            s"$table's equality tombstone $d keys on ${f.name} " +
              s"(${f.dataType.simpleString}), which has no canonical comparison " +
              "domain for the lazy executor-side probe — compact() to " +
              "materialize the deletes"))
          SpjEqTombstoneFiles(seq, fields.map(f => (f.name, f.dataType)),
            df.schema, slices.map(s => (s._1, s._2)))
        }
      } else {
        val rows = df.queryExecution.executedPlan.executeCollect()
        if (positional) {
          // recorded `__file` strings are the URL-ENCODED SparkPath form
          // (both writers record from `_metadata.file_path` / the SPJ
          // `_file` metadata column) — DECODE to the Hadoop Path form the
          // reader's per-file lookup normalizes to; unencodable strings
          // (a pre-unification tombstone) fall back to Path canon only
          val byFile = rows.toSeq
            .groupBy(r => decodeFilePath(r.getUTF8String(0).toString))
            .map { case (p, rs) => p -> rs.map(_.getLong(1)).toArray.sorted }
          SpjPosTombstone(seq, byFile)
        } else {
          val fields = df.schema.fields.toSeq
          SpjEqTombstone(seq, fields.map(f => (f.name, f.dataType)),
            rows.iterator.map { r =>
              fields.zipWithIndex.map { case (f, i) =>
                SpjLayout.canonKey(f.dataType, r, i)
              }.toVector: Seq[Any]
            }.toSet)
        }
      }
    }

  /** The SPJ tombstone broadcast gate, in ON-DISK tombstone bytes
    * (compressed parquet — the cheapest honest proxy available without
    * decoding): at the 16 MB default a positional payload decodes to a
    * few tens of MB of driver heap, which matches what the ordinary
    * read path's per-query broadcast already prices. Session-tunable. */
  private def spjTombstoneGate: Long =
    spark.conf.get("spark.graft.spj.tombstone-broadcast-bytes",
      Lakehouse.SpjTombstoneGateBytes.toString).toLong

  /** A tombstone dir's parquet slices as (path, length, no bounds) —
    * tombstone dirs are flat (plain parquet writes, no partitioning). */
  private def tombstoneSlices(table: String, d: String)
      : Seq[(String, Long, Option[(String, String)])] =
    fs.listStatus(new Path(tableDir(table), d)).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(st => (st.getPath.toString, st.getLen, None))

  /** Fill each slice's `(lo, hi)` bounds of its recorded `__file`
    * column from the slice's own parquet footer — O(slices) driver
    * metadata reads, never O(rows). A slice without usable stats keeps
    * `None` (every task checks it — correct, just unpruned). */
  private def withFileBounds(slices: Seq[(String, Long, Option[(String, String)])])
      : Seq[(String, Long, Option[(String, String)])] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    Lakehouse.parallelMeta(slices) { case (p, len, _) =>
      val bounds = scala.util.Try {
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(p), conf))
        try {
          val per = r.getFooter.getBlocks.asScala.toSeq.map { b =>
            val chunk = b.getColumns.asScala
              .find(_.getPath.toDotString == "__file").get
            val st = chunk.getStatistics
            require(st != null && st.hasNonNullValue, "no __file stats")
            (st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary]
              .toStringUsingUTF8,
              st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary]
                .toStringUsingUTF8)
          }
          (per.map(_._1).min, per.map(_._2).max)
        } finally r.close()
      }.toOption
      Seq((p, len, bounds))
    }
  }

  /** Decode a recorded position-delete file path (URL-encoded SparkPath
    * form, what `_metadata.file_path` and the SPJ `_file` column both
    * yield) to canonical Hadoop `Path.toString` form — the form the SPJ
    * reader derives from its own file statuses. Non-URI strings fall
    * back to plain Path canonicalization (they were already unencoded). */
  private def decodeFilePath(s: String): String =
    scala.util.Try(
      org.apache.spark.paths.SparkPath.fromUrlString(s).toPath.toString)
      .getOrElse(new Path(s).toString)

  /** Conditional ENTRY REPLACEMENT — the commit leg of the DSv2
    * copy-on-write row-level operations ([[graft.sources.spj]]
    * UPDATE / MERGE INTO / fallback DELETE): atomically swap the
    * snapshot entries the CoW scan read for a freshly written data dir
    * holding their transformed rows, carrying every other entry by
    * reference (byte-identical, exactly like [[updateWhere]]'s clean
    * set). UNCONDITIONAL RETRY IS IMPOSSIBLE here: the replacement
    * rows were computed against `baseSnap`'s pinned files, so if the
    * branch moved underneath, re-committing would resurrect rows a
    * racing writer changed — refuse with [[CommitConflictException]]
    * and let the caller re-run the whole statement against the new
    * snapshot. The reference's MERGE lifecycle (mongo_to_iceberg.py)
    * leans on Iceberg for exactly this serializable-or-fail property. */
  private[graft] def replaceEntries(table: String, branch: String,
      baseSnap: Long, removed: Seq[String], replacement: DataFrame,
      partitionBy: Seq[String]): Long = {
    val baseEntries = snapshots(table).find(_._1 == baseSnap)
      .getOrElse(throw new IllegalArgumentException(
        s"$table has no snapshot $baseSnap"))._2
    // classify at partition-LEAF granularity, exactly as [[deleteWhere]]:
    // whole-dir ledger entries explode to their leaves so an op that
    // touched one partition carries every other leaf by reference
    val exploded = baseEntries.flatMap { e =>
      if (e.contains("/")) Seq(e)
      else dirLayout(table, e) match {
        case Nil => Seq(e)
        case own => leafDirs(new Path(tableDir(table), e), own.length)
          .map(l => s"$e/$l")
      }
    }
    val removedSet = removed.toSet
    val missing = removedSet -- exploded.toSet
    require(missing.isEmpty,
      s"replaceEntries: ${missing.mkString(", ")} not in $table@$baseSnap")
    val clean = exploded.filterNot(removedSet)
    // a tombstoned base CARRIES its tombstones: the CoW scan read the
    // removed entries with deletes already applied (the rewrite
    // materialized them), and the carried entries keep their original
    // dir names — lower sequences than every carried tombstone, so the
    // anti-join keeps filtering them. The fresh data dir's sequence is
    // ABOVE every carried tombstone (reserveSnap is monotonic), so a
    // carried tombstone can never swallow the rewritten rows.
    val prevDeletes = snapshotDeletes(table).getOrElse(baseSnap, Seq.empty)
    if (removed.isEmpty && replacement.isEmpty) return baseSnap // provable no-op
    val snap = reserveSnap(table)
    val dir = s"data-$snap"
    // MERGE-RETRY on a moved head (r16, Iceberg's validate-then-retry):
    // the staged rewrite composes with CONCURRENT APPEND-SHAPED commits
    // — re-read the head, require (1) entries were actually REMOVED
    // (a pure-insert replace, e.g. a not-matched-only MERGE, must
    // refuse: two concurrent inserts of the same absent key would both
    // see empty removed sets and both land, a duplicate no serial
    // execution produces — the client retry re-plans and takes the
    // matched leg instead), (2) every removed entry still present (a
    // concurrent rewrite of what we rewrote is a true conflict), and
    // (3) NO new tombstones (a MoR delete naming rows inside the
    // removed entries would be silently resurrected by our
    // higher-sequence rewrite; one landing after our reserved sequence
    // would wrongly apply to our new dir) — then commit
    // head − removed + ours, carrying the head's deletes.
    def commitMerging(withDir: Seq[String] => Seq[String]): Long = {
      var base = baseSnap
      var dels = prevDeletes
      var entries = withDir(clean)
      var attempts = 0
      while (true) {
        try return commit(table, snap, entries, branch, Some(Some(base)),
          deletes = dels)
        catch {
          case e: CommitConflictException =>
            attempts += 1
            val head = currentSnapshot(table, branch).getOrElse(throw e)
            val headEntries = snapshots(table).find(_._1 == head)
              .getOrElse(throw e)._2
            val headExploded = headEntries.flatMap { en =>
              if (en.contains("/")) Seq(en)
              else dirLayout(table, en) match {
                case Nil => Seq(en)
                case own => leafDirs(new Path(tableDir(table), en), own.length)
                  .map(l => s"$en/$l")
              }
            }
            val headDels = snapshotDeletes(table).getOrElse(head, Seq.empty)
            if (attempts > 12 || removedSet.isEmpty ||
              !removedSet.subsetOf(headExploded.toSet) ||
              (headDels.toSet -- prevDeletes.toSet).nonEmpty) throw e
            base = head
            dels = headDels
            entries = withDir(headExploded.filterNot(removedSet))
        }
      }
      -1L // unreachable
    }
    try {
      writeDataDir(replacement, table, dir, partitionBy)
      // a partitioned write of ZERO rows leaves no parquet files —
      // committing the bare dir would break snapshot reads (same
      // classification as [[deleteWhere]]'s all-deleted branch)
      def hasParquet(p: Path): Boolean =
        fs.listStatus(p).exists(s =>
          (s.isFile && s.getPath.getName.endsWith(".parquet")) ||
            (s.isDirectory && hasParquet(s.getPath)))
      if (hasParquet(new Path(tableDir(table), dir)))
        commitMerging(_ :+ dir)
      else if (clean.nonEmpty) {
        val committed = commitMerging(identity)
        fs.delete(new Path(tableDir(table), dir), true)
        committed
      } else {
        // every row replaced away and nothing carried: an empty
        // UNPARTITIONED dir always writes one schema-bearing file
        // (no tombstones either — there is nothing left to delete from)
        writeDataDir(replacement.limit(0), table, dir, Nil)
        commit(table, snap, Seq(dir), branch, Some(Some(baseSnap)))
      }
    } catch { case e: Throwable => abortSnap(table, snap, dir); throw e }
  }

  /** Conditional DELTA COMMIT — the commit leg of the DSv2
    * MERGE-ON-READ row-level operations ([[graft.sources.spj]]
    * delta UPDATE / MERGE / DELETE): land a positional tombstone
    * (`_deletes-<snap>`, columns `__file`/`__pos` keyed on the pinned
    * snapshot's files) and/or one new data dir of replacement images
    * UNDER THE TABLE'S OWN LAYOUT, carrying every existing entry by
    * reference — zero data files rewritten, the [[updateWhereMor]]
    * commit shape driven from Spark's own delta write. The tombstone
    * and the delta dir share the snapshot's sequence; tombstones
    * apply only to LOWER sequences, so the tombstone can never
    * swallow the images it ships with. CONDITIONAL on `baseSnap`
    * exactly like [[replaceEntries]]: positions were derived against
    * that snapshot's files, and re-applying them after a racing
    * rewrite could delete the wrong rows — refuse with
    * [[CommitConflictException]] and let the statement re-run. */
  private[graft] def commitDelta(table: String, branch: String, baseSnap: Long,
      positions: Option[DataFrame], inserts: Option[DataFrame],
      partitionBy: Seq[String]): Long = {
    val entries = snapshots(table).find(_._1 == baseSnap)
      .getOrElse(throw new IllegalArgumentException(
        s"$table has no snapshot $baseSnap"))._2
    val prevDeletes = snapshotDeletes(table).getOrElse(baseSnap, Seq.empty)
    if (positions.isEmpty && inserts.isEmpty) return baseSnap // no-op statement
    val snap = reserveSnap(table)
    val delDir = s"_deletes-$snap"
    val dataDir = s"data-$snap"
    try {
      positions.foreach(_.write.mode(SaveMode.Overwrite)
        .parquet(new Path(tableDir(table), delDir).toString))
      inserts.foreach(writeDataDir(_, table, dataDir, partitionBy))
      commit(table, snap,
        entries ++ (if (inserts.isDefined) Seq(dataDir) else Nil),
        branch, Some(Some(baseSnap)),
        deletes = prevDeletes ++ (if (positions.isDefined) Seq(delDir) else Nil))
    } catch {
      case e: Throwable =>
        abortSnap(table, snap, delDir)
        fs.delete(new Path(tableDir(table), dataDir), true)
        throw e
    }
  }
}

/** Thrown when a conditional commit loses the optimistic-concurrency
  * race (the branch moved under the writer); writers recompute against
  * the new base and retry. */
class CommitConflictException(msg: String) extends RuntimeException(msg)

object Lakehouse {
  /** Intra-JVM per-table commit locks, keyed by absolute table path. */
  private[sources] val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Merge two SAME-SHAPE types (catalogString-equal) to the most
    * permissive nullability — containsNull / valueContainsNull /
    * field-nullable flags OR together, so a metadata-derived schema
    * never narrows what some dir actually stores. */
  private[sources] def mostPermissive(
      a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    (a, b) match {
      case (StructType(af), StructType(bf)) =>
        StructType(af.zip(bf).map { case (x, y) =>
          x.copy(dataType = mostPermissive(x.dataType, y.dataType),
            nullable = x.nullable || y.nullable) })
      case (ArrayType(ae, an), ArrayType(be, bn)) =>
        ArrayType(mostPermissive(ae, be), an || bn)
      case (MapType(ak, av, an), MapType(bk, bv, bn)) =>
        MapType(mostPermissive(ak, bk), mostPermissive(av, bv), an || bn)
      case _ => a
    }
  }

  /** Parsed manifest-list summaries keyed by (manifest path, mtime,
    * length) — see [[Lakehouse.dirSummaries]]. */
  private[sources] val dirSummaryCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), Map[String, Map[String, (String, String, String)]]]()

  /** Raw ledger-segment lines keyed by (segment path, mtime, length);
    * full segments are immutable, so entries go stale only when the
    * file itself changes (live tail growing, expiry consolidating). */
  private[sources] val manifestCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), Seq[String]]()

  /** Inferred parquet schemas of WRITE-ONCE tombstone dirs, keyed by
    * absolute dir path. A bare `spark.read.parquet(dir)` runs a
    * schema-inference Spark JOB per call, and MoR-heavy lifecycles
    * re-open the same immutable `_deletes-N` dir many times (every
    * read/CDC/SPJ plan of the table) — profiled at 3-8 such jobs per
    * driver query. Tombstone dirs are never rewritten after commit
    * (compaction only deletes them), so a path-keyed cache is sound;
    * `readChanges`/`readChangesCdc` refuse intervals whose tombstones
    * were materialized away, and a re-created table path restarts in
    * a fresh temp root; the dir MTIME joins the key anyway (a POSIX
    * dir's mtime moves on entry create/delete) so even a same-path
    * re-creation can never serve a stale schema. Bounded like
    * [[manifestCache]]. */
  private[sources] val tombstoneSchemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), org.apache.spark.sql.types.StructType]()

  /** Monotone counter bumped on EVERY `_catalog.jsonl` mutation in
    * this JVM (register/drop/rename/bucketed lines), and by a
    * [[Lakehouse.computeSums]] backfill, which adds sums ledgers at an
    * existing snapshot. Joins the
    * layout/probe cache keys because the file's (mtime, length) stamp
    * alone can miss a same-length rewrite within the filesystem's
    * mtime granularity (e.g. `SET PARTITION SPEC bucket(4,k)` →
    * `bucket(8,k)`) and serve a stale writeSpec. Cross-process writers
    * are still covered by the stamp; this closes the in-process fast
    * path, which is where sub-granularity rewrites actually happen. */
  private[sources] val catalogEpoch = new java.util.concurrent.atomic.AtomicLong()

  /** Lines per ledger segment before a commit starts the next one.
    * Bounds the bytes a commit rewrites: at 64 lines × ~200 B the
    * rewrite stays ~12 KB however long the table's history grows. */
  private[sources] val SegmentMaxLines = 64

  /** Max semi-join branches per write job in
    * [[Lakehouse.rewritePositionDeletes]] — bounds the physical plan's
    * union width however many equality tombstones convert (total work
    * streams through in groups instead). */
  private[sources] val RewriteUnionBranches = 32

  /** Default SPJ tombstone broadcast gate (on-disk bytes; see
    * [[Lakehouse.spjTombstones]]). Conf-overridable per session via
    * `spark.graft.spj.tombstone-broadcast-bytes`. */
  private[graft] val SpjTombstoneGateBytes: Long = 16L << 20

  /** Resolved [[SpjLayout]]s keyed by (table dir, snapshot, commit
    * wall-clock, catalog stamp, tombstone gate) — bounded LRU (layouts
    * hold file lists; 64 hot tables is plenty, evictions just
    * rebuild). Access under the map's own monitor. */
  private[graft] val spjLayoutCache =
    new java.util.LinkedHashMap[(String, Long, Long, (Long, Long, Long), Long), SpjLayout](
      128, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long, (Long, Long, Long), Long), SpjLayout])
          : Boolean = size() > 64
    }

  /** [[Lakehouse.spjServableSpec]] probe results under the same
    * staleness-proof key as [[spjLayoutCache]] — a stored `None` is a
    * cached refusal (the map's own absence is the miss). Cheap entries;
    * a larger bound so catalog-wide `SHOW TABLES` stays resident. */
  private[graft] val spjProbeCache =
    new java.util.LinkedHashMap[(String, Long, Long, (Long, Long, Long), Long),
      Option[Seq[String]]](256, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long, (Long, Long, Long), Long),
            Option[Seq[String]]]): Boolean = size() > 256
    }

  /** Count of per-dir `_stats.jsonl` ledger opens — observability for
    * the manifest-list skip path (specs assert a pruned scan reads
    * ledgers for matching dirs only, not per table-history dir). */
  private[graft] val ledgerReads = new java.util.concurrent.atomic.AtomicLong()

  /** Count of per-dir DataFrame opens on the ordinary read path
    * (`openDirGroup`) — observability for the paths that must not
    * touch data (specs assert a pruned or metadata-served read opens
    * only the dirs it needs, or none). The DSv2 scan does not open
    * dirs this way, so a metadata-only aggregate is checked by its
    * plan instead (`Medallion.metaOnlyPlan`). */
  private[graft] val dataDirOpens = new java.util.concurrent.atomic.AtomicLong()

  /** Observability for the write-pass sums fusion: ledgers written
    * from observed metrics vs second-pass scans ([[WriteSumsFusion]]).
    * Specs assert declared-sums writes take the fused path (a silent
    * 100% fallback would be an undetected performance regression). */
  private[graft] val fusedSumsLedgers = new java.util.concurrent.atomic.AtomicLong()
  private[graft] val scannedSumsLedgers = new java.util.concurrent.atomic.AtomicLong()

  /** Per-session (depth, previous value) for the micros-timestamp
    * write scope — see `withMicrosTimestamps`. */
  private val microsScopes =
    scala.collection.mutable.Map.empty[SparkSession, (Int, String)]

  /** Run `f` over metadata-scale items on a bounded driver pool.
    * Footer/manifest reads are independent I/O round-trips whose
    * SERIAL sum dominates many-file writes (measured ~25 s for ~700
    * tiny leaves); at 100 TB a compaction output dir has thousands of
    * files, so stats recording must not be O(files) round-trip
    * latency. Order preserved; first failure rethrown unwrapped. */
  private[sources] def parallelMeta[A, B](items: Seq[A])(f: A => Seq[B]): Seq[B] = {
    if (items.lengthCompare(2) < 0) items.flatMap(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(16, items.length))
      try {
        val futures = items.map(i => pool.submit(
          new java.util.concurrent.Callable[Seq[B]] { def call(): Seq[B] = f(i) }))
        try futures.flatMap(_.get())
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      } finally pool.shutdown()
    }
  }

  /** Open an existing lake root in a (possibly brand-new) session and
    * re-register every table recorded in its `_catalog.jsonl` — temp
    * views and SQL DML routing come back with their persisted
    * partition layouts, the way the reference reopens its Nessie
    * catalog. */
  def openCatalog(spark: SparkSession, root: String): Lakehouse = {
    val lake = new Lakehouse(spark, root)
    lake.registerCatalog()
    lake
  }
}

/** Bucketed catalog tables: hash-bucket the join key at WRITE time so
  * repeated equi-joins on that key are co-located — Spark reads
  * matching buckets pairwise and plans the join with no Exchange on
  * either side. At 100 TB this converts every fact-fact join on the
  * bucketing key from a full shuffle into a local merge, the single
  * biggest recurring-cost lever in §4 (spec proves the shuffle-free
  * plan). Uses the session catalog (`saveAsTable`), the only write
  * path that records bucketing metadata. */
/** One data file of a storage-partitioned layout: absolute path, byte
  * length (so the scan plans splits without re-stat-ing), its
  * stats-ledger bounds `col -> (type, lo, hi)` for plan-time range
  * pruning against pushed filters, plus the row-count / per-column
  * null-count / per-column sum ledgers — what lets the DSv2 scan
  * report exact statistics, prune LIMIT scans and answer pushed
  * aggregates without opening data. `rows = None` / missing map keys
  * mean "unrecorded" (pre-ledger files): every consumer degrades to
  * the scan path, never guesses. */
private[graft] case class SpjFile(path: String, length: Long,
    stats: Map[String, (String, String, String)],
    rows: Option[Long] = None,
    nulls: Map[String, Long] = Map.empty,
    sums: Map[String, Option[java.math.BigDecimal]] = Map.empty,
    sortedBy: Seq[String] = Seq.empty,
    entry: String = "",
    pathVals: Map[String, String] = Map.empty) {
  /** The data dir this file's entry belongs to (`data-<snap>`). */
  def dataDir: String = entry.takeWhile(_ != '/')
  /** The dir's commit sequence — what decides which merge-on-read
    * tombstones apply (only those with a HIGHER sequence; the Iceberg
    * v2 rule that lets later appends re-insert deleted keys). */
  def dirSeq: Long = SpjFile.seqOfDir(dataDir)
}

private[graft] object SpjFile {
  def seqOfDir(dataDir: String): Long =
    scala.util.Try(dataDir.stripPrefix("data-").toLong).getOrElse(
      throw new IllegalStateException(
        s"cannot sequence data dir '$dataDir' for tombstone application"))
}

/** One merge-on-read tombstone of an SPJ-served snapshot, loaded and
  * canonicalized at plan time ([[Lakehouse]]'s spjTombstones). Applies
  * to files whose data dir carries a LOWER commit sequence. */
private[graft] sealed trait SpjTombstone { def seq: Long }

/** EQUALITY tombstone: rows whose key columns null-safely match a
  * recorded key tuple are deleted. `keys` holds [[SpjLayout.canonKey]]
  * canonical tuples (so executor-side extraction from InternalRows
  * compares correctly against the driver-side collect). */
private[graft] case class SpjEqTombstone(seq: Long,
    keyCols: Seq[(String, org.apache.spark.sql.types.DataType)],
    keys: Set[Seq[Any]]) extends SpjTombstone

/** POSITIONAL tombstone (Iceberg v2 position-delete shape): per
  * normalized file path, the sorted row indexes deleted from it.
  * The UNDER-the-broadcast-gate representation — the whole payload
  * ships to executors once, driver-materialized at plan time. */
private[graft] case class SpjPosTombstone(seq: Long,
    byFile: Map[String, Array[Long]]) extends SpjTombstone

/** POSITIONAL tombstone ABOVE the broadcast gate — the payload never
  * touches the driver. The layout carries only the tombstone dir's
  * parquet SLICES `(path, length, optional (lo, hi) bounds of the
  * recorded `__file` column from the slice's own footer)`; each scan
  * task opens just the slices whose bounds admit ITS data file and
  * anti-joins executor-side (Iceberg's position-delete read path).
  * Slices are naturally `__file`-clustered — the writers derive
  * positions from per-file scan tasks — so a data file typically
  * overlaps one slice. Recorded paths are the URL-encoded SparkPath
  * form (both writers' contract), compared raw, no decode. */
private[graft] case class SpjPosTombstoneFiles(seq: Long,
    slices: Seq[(String, Long, Option[(String, String)])]) extends SpjTombstone

/** EQUALITY tombstone ABOVE the broadcast gate (r17) — the key set
  * never touches the driver. The layout carries the key columns for
  * binding (`keyCols`: declared-mapped names + RECORDED types, exactly
  * the broadcast subtype's contract), the slices' own physical parquet
  * schema (`fileSchema` — what the executor reads them with; after a
  * committed rename the two name sets differ), and the tombstone dir's
  * parquet slices. Each EXECUTOR materializes the canonical key-tuple
  * set once per tombstone (single-flight, LRU-bounded — the spj
  * package's SpjEqKeyCache) and every task on it probes the shared
  * set; tuple order is `fileSchema` field order = `keyCols` order, and
  * both sides canonicalize through [[SpjLayout.canonKey]], so a lazy
  * probe can never disagree with the broadcast path's. */
private[graft] case class SpjEqTombstoneFiles(seq: Long,
    keyCols: Seq[(String, org.apache.spark.sql.types.DataType)],
    fileSchema: org.apache.spark.sql.types.StructType,
    slices: Seq[(String, Long)]) extends SpjTombstone

/** Per-data-dir conform materials for SPJ reads of a SCHEMA-EVOLVED
  * table: the dir's recorded physical file schema (hidden `_p_…`
  * layout columns stripped; the identity partition column, which the
  * files don't store, is stripped by the reader) and the renames
  * committed after the dir was written — the reader reverse-maps each
  * DECLARED column through them to find its physical name, null-fills
  * columns the dir predates, and up-casts widened types, exactly
  * mirroring the ordinary read path's alignToDeclared projection. */
private[graft] case class SpjDirConform(
    physFileSchema: org.apache.spark.sql.types.StructType,
    renames: Seq[(String, String)])

/** A table's storage-partitioned layout ([[Lakehouse.spjLayout]]):
  * logical schema, partition column(s), files per partition index.
  * Three shapes:
  *  - BUCKET: `identityKeys = None` — indices ARE bucket numbers in
  *    [0, nBuckets), all n planned (empty ones included);
  *  - IDENTITY: `identityKeys = Some(keys)`, `outerCol = None` —
  *    index i holds partition value `keys(i)` as (unescaped dir
  *    string, internal value); `keyCol` is the identity column;
  *    `nBuckets == keys.length`;
  *  - IDENTITY × BUCKET (the Iceberg fact canon, e.g.
  *    `(status, bucket(16, id))`): `outerCol = Some(p)` names the
  *    identity level, `keyCol`/`nBuckets` the bucket level, and the
  *    COMPOSITE index `i = idIdx * nBuckets + bucket` enumerates
  *    `keys.length × nBuckets` partitions.
  * Identity dirs strip their column from the data files — the scan
  * re-injects the decoded internal value and reports it as (part of)
  * the partition key. */
private[graft] case class SpjLayout(schema: org.apache.spark.sql.types.StructType,
    keyCol: String, nBuckets: Int, files: Map[Int, Seq[SpjFile]],
    identityKeys: Option[IndexedSeq[(String, Any)]] = None,
    outerCol: Option[String] = None,
    outerTransformSpec: Option[String] = None,
    snapshot: Long = -1L,
    deletes: Seq[SpjTombstone] = Seq.empty,
    dirConforms: Map[String, SpjDirConform] = Map.empty,
    flatGroups: Boolean = false,
    writeSpec: Option[Seq[String]] = None,
    dirStrips: Map[String, Seq[String]] = Map.empty) {
  /** Snapshot carries merge-on-read tombstones: the reader applies
    * them per file; every ledger-exactness claim (pushed aggregates,
    * exact row counts, LIMIT/TopN file caps) must DECLINE — recorded
    * counts over-state the served rows. */
  def tombstoned: Boolean = deletes.nonEmpty
  /** Table carries committed schema evolution: the reader conforms
    * each dir through [[SpjDirConform]]. */
  def evolved: Boolean = dirConforms.nonEmpty
  /** Two-level layouts: an OUTER level (identity column or time
    * transform) over the bucket level. */
  private def twoLevel: Boolean = outerCol.isDefined || outerTransformSpec.isDefined
  /** The identity component's COLUMN — the single identity level or
    * the identity outer of a two-level layout; None for pure bucket
    * and for transform outers (whose key is a DERIVED value, not a
    * schema column — nothing to inject or group by). */
  def identityCol: Option[String] =
    outerCol.orElse(
      if (outerTransformSpec.isDefined) None else identityKeys.map(_ => keyCol))
  /** The bucket component (n, column); None for pure identity and for
    * DEGRADED flat-group layouts (whose indices are arbitrary file
    * groups, not layout values — no pruning or co-location claims). */
  def bucketLevel: Option[(Int, String)] =
    if (flatGroups) None
    else if (twoLevel || identityKeys.isEmpty) Some((nBuckets, keyCol)) else None
  /** Total planned partitions (composite for two-level layouts). */
  def nParts: Int = identityKeys match {
    case Some(ks) if twoLevel => ks.length * nBuckets
    case Some(ks) => ks.length
    case None => nBuckets
  }
  /** Partition i's index into [[identityKeys]] (the OUTER key list —
    * identity values or derived transform values), when one exists. */
  def identityIdxAt(i: Int): Option[Int] =
    identityKeys.map(_ => if (twoLevel) i / nBuckets else i)
  /** Partition i's outer-key component, when the layout has one. */
  def identityKeyAt(i: Int): Option[(String, Any)] =
    identityIdxAt(i).map(ix => identityKeys.get(ix))
  /** Partition i's bucket component, when the layout has one. */
  def bucketAt(i: Int): Option[Int] =
    if (flatGroups) None
    else if (twoLevel) Some(i % nBuckets)
    else if (identityKeys.isEmpty) Some(i)
    else None
  def identityField: Option[org.apache.spark.sql.types.StructField] =
    identityCol.map(c => schema.fields.find(_.name == c).get)
  /** Does partition i survive the given per-level allowed sets?
    * None = that level unconstrained. The ONE place composite-index
    * membership is decided (static pruning and runtime filtering both
    * route here). */
  def keepPartition(i: Int, idAllowed: Option[Set[Int]],
      bkAllowed: Option[Set[Int]]): Boolean =
    idAllowed.forall(a => identityIdxAt(i).forall(a.contains)) &&
      bkAllowed.forall(a => bucketAt(i).forall(a.contains))
  /** Canonical write-spec — what the DSv2 write path hands the
    * Lakehouse writer so inserts land under the table's own layout
    * (for flat-group layouts: the DECLARED catalog spec, or
    * unpartitioned when none is declared). */
  def spec: Seq[String] = writeSpec.getOrElse(
    outerTransformSpec.toSeq ++ identityCol ++
      bucketLevel.map { case (n, k) => s"bucket($n,$k)" })
}

private[graft] object SpjLayout {
  import org.apache.spark.sql.types._
  /** Hive's null-partition dir marker (what `partitionBy` writes for a
    * null key). */
  val HiveNullPart = "__HIVE_DEFAULT_PARTITION__"
  /** Servability-probe marker for mixed-layout tables that degrade to
    * the flat scan (never a real write spec). */
  val MixedSpec = "__mixed__"

  /** Do two column types share ONE canonical comparison domain under
    * [[canonKey]]? Integral families unify (all widen to Long), so a
    * promoted int→bigint column still matches its pre-promotion
    * equality-tombstone keys; float and double unify too ([[canonKey]]
    * widens float exactly to double — the same cast-then-compare the
    * ordinary read path's anti-join performs after an allowed
    * float→double promotion, so the two read paths agree bit-for-bit);
    * everything else must match its family exactly. The gate runs
    * against the DECLARED schema at layout build, and the unified
    * domains are what make it sound per DIR too: any physical type the
    * evolution surface can reach from a declared-compatible type stays
    * inside the same canonical domain. */
  def canonCompatible(a: DataType, b: DataType): Boolean = {
    def fam(d: DataType): Option[Any] = d match {
      case ByteType | ShortType | IntegerType | LongType => Some("i")
      case StringType => Some("s")
      case DateType => Some("dt")
      case TimestampType => Some("ts")
      case BooleanType => Some("b")
      case DoubleType | FloatType => Some("d")
      case dd: DecimalType => Some(("dec", dd.scale))
      case _ => None
    }
    (fam(a), fam(b)) match {
      case (Some(x), Some(y)) => x == y
      case _ => false
    }
  }

  /** Canonical comparable image of row value `i` for equality-
    * tombstone matching — ONE function for both sides (the driver-side
    * tombstone collect and the executor-side data-row extraction), so
    * representation differences can never miss a delete. Integral
    * families widen to Long (an int file column under a long tombstone
    * key compares equal), floats widen EXACTLY to Double (a
    * pre-promotion float dir under a post-promotion double tombstone
    * key compares in one domain — the same cast the ordinary path's
    * anti-join applies), strings unbox from UTF8String, temporal
    * types compare in their internal numeric form, and signed zeros
    * normalize so `0.0 = -0.0` matches Spark's join semantics (boxed
    * NaN == NaN is already true, also matching Spark). Null keys stay
    * null — tuple equality over them reproduces the null-safe `<=>`
    * anti-join of the ordinary MoR read path. Unsupported types throw
    * AT PLAN TIME (the tombstone collect), a loud refusal to serve. */
  def canonKey(dt: DataType, row: org.apache.spark.sql.catalyst.InternalRow,
      i: Int): Any =
    if (row.isNullAt(i)) null
    else dt match {
      case StringType => row.getUTF8String(i).toString
      case LongType => row.getLong(i)
      case IntegerType => row.getInt(i).toLong
      case ShortType => row.getShort(i).toLong
      case ByteType => row.getByte(i).toLong
      case DateType => row.getInt(i).toLong
      case TimestampType => row.getLong(i)
      case BooleanType => row.getBoolean(i)
      case DoubleType =>
        val v = row.getDouble(i); if (v == 0.0d) 0.0d else v
      case FloatType =>
        val v = row.getFloat(i).toDouble; if (v == 0.0d) 0.0d else v
      case d: DecimalType =>
        row.getDecimal(i, d.precision, d.scale).toJavaBigDecimal
      case other => throw new UnsupportedOperationException(
        s"equality-tombstone key type $other is not comparable on the SPJ read path — " +
          "compact() to materialize the deletes")
    }
  def unescapePath(raw: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(raw)
  /** The identity-key type whitelist [[decodeIdentity]] accepts —
    * SHOW TABLES' servability probe must agree with it. */
  def supportedIdentityType(dt: DataType): Boolean = dt match {
    case StringType | IntegerType | LongType | ShortType | ByteType | DateType => true
    case _ => false
  }
  /** Decode a DERIVED transform dir value (epoch days/months/years/
    * hours — the writer materializes them as longs). */
  def decodeDerivedLong(raw: String): (String, Any) = {
    val un = unescapePath(raw)
    (un, if (un == HiveNullPart) null else un.toLong)
  }
  /** Decode an identity partition dir value to (unescaped string,
    * internal value). The unescaped string doubles as the CANONICAL
    * form runtime-filter/static-prune values compare against (ints
    * print decimal, dates ISO — the same forms
    * [[graft.sources.spj.SpjPruning.runtimeInValues]] produces).
    * Restricted to session-independent types; anything else refuses
    * the SPJ layout loudly rather than risking a mis-decoded key. */
  def decodeIdentity(dt: DataType, raw: String): (String, Any) = {
    val un = unescapePath(raw)
    if (un == HiveNullPart) (un, null)
    else (un, dt match {
      case StringType => org.apache.spark.unsafe.types.UTF8String.fromString(un)
      case IntegerType => un.toInt
      case LongType => un.toLong
      case ShortType => un.toShort
      case ByteType => un.toByte
      case DateType => java.time.LocalDate.parse(un).toEpochDay.toInt
      case other => throw new IllegalArgumentException(
        s"identity storage-partitioned layouts support string/integral/date keys, not $other")
    })
  }
}

object Bucketed {
  def write(df: DataFrame, table: String, bucketCols: Seq[String], nBuckets: Int,
      path: String): Unit = {
    require(bucketCols.nonEmpty, "bucketed write needs at least one bucket column")
    df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .option("path", path)
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)
  }

  /** Re-create the CATALOG ENTRY for a bucketed table whose files
    * already exist at `path` (written earlier by [[write]], same spec)
    * — what a fresh session/process needs for the planner to see the
    * bucketing again: bucket ids live in the FILE NAMES, but the
    * shuffle-free join plan comes from the catalog's bucket spec, so
    * without this DDL a reopened session would re-shuffle every
    * fact-fact join the layout had already paid for. Schema comes
    * from the parquet footers (self-describing, like the data). */
  def register(spark: SparkSession, table: String, bucketCols: Seq[String],
      nBuckets: Int, path: String): Unit = {
    val schema = spark.read.parquet(path).schema
    val colsDdl = schema.fields
      .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    spark.sql(
      s"""CREATE TABLE `$table` ($colsDdl) USING parquet
         |CLUSTERED BY (${bucketCols.map(c => s"`$c`").mkString(", ")})
         |SORTED BY (${bucketCols.map(c => s"`$c`").mkString(", ")})
         |INTO $nBuckets BUCKETS
         |LOCATION '$path'""".stripMargin)
  }
}

/** Generic single-table sinks — the JDBC-export analog of the
  * reference's gold layer (reference: gold_reporting.py:82 jdbc
  * write, mode=overwrite). Overwrite-mode csv/parquet directories;
  * swap the format for `jdbc` on a cluster with a warehouse. */
object Sinks {
  def exportCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  def exportParquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** The actual `.format("jdbc")` writer of the reference's gold layer
    * (gold_reporting.py:127 writes the report to Postgres,
    * mode=overwrite). Exercised offline in the spec against embedded
    * Derby (on Spark's classpath); on a cluster, point `url`/`driver`
    * at the warehouse. */
  def exportJdbc(df: DataFrame, url: String, table: String,
      driver: String = "org.apache.derby.jdbc.EmbeddedDriver"): Unit =
    df.write.mode(SaveMode.Overwrite)
      .format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("driver", driver)
      .save()
}
