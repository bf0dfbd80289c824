package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}

/** Size-tiered fold planning + the ONE crash-safe commit protocol for
  * the segmented on-disk indexes (the MinHash index's `features`/
  * `postings`, the IVF index's `assigned`) — the LSM posture that makes
  * in-line stream compaction affordable at corpus scale (r16 verdict #1).
  *
  * Why: a fold that rewrites `base` is O(index) work. Driven per trigger
  * by a 24/7 ingest stream (`compactEvery`), that is cumulative O(T²/n)
  * writes over the stream's lifetime, unusable once the base outgrows
  * the batches. The size-tiered shape caps that: segments group into
  * geometric size CLASSES (class = ⌊log_fanout(bytes/64 KiB)⌋), and
  * whenever a class holds ≥ `fanout` members they fold into ONE tier
  * segment (which lands in a higher class). Each row is folded at most
  * once per level and there are O(log_fanout(corpus/batch)) levels, so
  * total fold writes are O(N·log N) and the per-trigger cost is
  * amortized O(batch) — FLAT in the base size, which is untouched until
  * the accumulated tiers reach `baseFoldRatio` of it. The FULL fold
  * (`compactMinhashIndex`/`compactIvfIndex`, and the base-ratio
  * escalation) is the same fold one level up: its sources are `base`
  * plus every non-excluded segment ([[baseFold]]), so an excluded
  * in-flight segment is never read, rewritten or moved. Same economics
  * as the lake's manifest LSM ([[graft.io.Manifest]] `compactEvery` +
  * retention) and every size-tiered LSM store.
  *
  * This object owns the INDEX-AGNOSTIC parts: the segment-label rule,
  * byte-size listing, the fold plan, deterministic tier naming, and the
  * intent-marker commit protocol that makes every fold crash-recoverable
  * ([[commitFold]] around the index's own staging write, a [[Stage]]),
  * plus the whole-layout swap ([[swapLayout]]) that rebuild, retrain and
  * the rollup fold commit through. The fold protocol:
  *
  *  1. stage each table's fold content COMPLETE at
  *     `__tierstage_<tier>/<table>` (index-specific write),
  *  2. write an intent marker `__fold_<tier>` at the index root listing
  *     the source segments,
  *  3. rename every staged dir to `<table>/seg=<tier>`,
  *  4. delete the source segments' dirs,
  *  5. (full fold only) PROMOTE: rename each `<table>/seg=<tier>` to
  *     `<table>/seg=base` — the label readers and specs know,
  *  6. delete the marker.
  *
  * Recovery ([[recover]], run at every compaction entry): a tier fold
  * whose tier dirs are ALL present rolls FORWARD (finish the source
  * deletes); a full fold rolls forward when every table has LANDED — its
  * tier dir exists, or its stage dir is gone (renamed in, then
  * promoted) — finishing, per table that still holds its tier dir, the
  * source deletes and the promote. Anything else rolls BACK (drop the
  * partial tier; sources are intact because deletes only happen after
  * every rename). Between steps 3 and 6 a crash can leave a probe window
  * where fold sources coexist with their tier — DUPLICATE rows, never
  * missing ones — and after step 4 the complete new base sits under its
  * tier label; both are healed by the next compaction entry. Duplicates
  * are decision-identical for the ingest kill rule wherever no
  * `maxBucket` cap differs between the sources and the merged fold
  * (MinHash verification dedups losers; IVF k=1 top-cosine is unchanged
  * by a duplicated candidate); general k>1 search in that window can
  * list one corpus row at two ranks. Tier names are a hash of the sorted
  * source set, so a replayed fold restages the SAME tier and stays
  * idempotent. */
private[graft] object TierCompact {

  final case class Fold(sources: Seq[String], tier: String)

  /** What a compaction did: zero or more tier folds (cascaded until no
    * size class was full), whether a full base fold ran, and any
    * crashed-fold tiers healed at entry. */
  final case class Report(folds: Seq[Fold], baseFolded: Boolean,
      healed: Seq[String])

  /** An index's fold body: write each table's COMPLETE fold content
    * under the given stage dir and return `table -> staged dir`. */
  type Stage = (Fold, Path) => Seq[(String, Path)]

  /** The label of the full-corpus segment: what a fresh build writes and
    * every full fold promotes its result to. */
  val Base = "base"

  /** Append segments must be filesystem-safe labels other than [[Base]]. */
  def requireAppendSegment(segment: String): Unit =
    require(segment.nonEmpty && segment != Base &&
      segment.forall(c => c.isLetterOrDigit || c == '_' || c == '-'),
      s"segment '$segment' must be a filesystem-safe label != '$Base'")

  /** Smallest size class granule: segments under 64 KiB share class 0. */
  private val unitBytes = 64L << 10

  def tierName(sources: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val h = md.digest(sources.sorted.mkString("|")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    "tf" + h.take(6).map(b => f"$b%02x").mkString
  }

  /** The full fold of `base` plus `segments`: committed as a tier named
    * after its sources, then promoted to [[Base]]. */
  def baseFold(segments: Seq[String]): Fold = {
    val sources = (Base +: segments).distinct.sorted
    Fold(sources, tierName(sources))
  }

  private def isBaseFold(fold: Fold): Boolean = fold.sources.contains(Base)

  def sizeClass(bytes: Long, fanout: Int): Int = {
    val r = math.max(bytes, 1L).toDouble / unitBytes
    math.max(0, (math.log(r) / math.log(fanout.toDouble)).toInt)
  }

  /** One planning round: every size class holding ≥ fanout members
    * becomes a fold group (all members — folding the whole class keeps
    * the level geometry tight). Callers loop until the plan is empty;
    * each round's tiers land in higher classes, so the loop terminates
    * in O(log) rounds. */
  def plan(bytes: Map[String, Long], fanout: Int): Seq[Fold] =
    bytes.groupBy { case (_, b) => sizeClass(b, fanout) }
      .toSeq.sortBy(_._1)
      .map(_._2.keys.toSeq.sorted)
      .filter(_.size >= fanout)
      .map(group => Fold(group, tierName(group)))

  /** Per-segment byte sizes of `tableDir`'s `seg=` partitions, from one
    * listing plus one content summary per segment — no data read. The
    * segment count is bounded by fanout × levels (the invariant this
    * whole mechanism maintains), so this stays a handful of RPCs. */
  private def segmentBytes(fs: FileSystem, tableDir: Path,
      exclude: Set[String]): Map[String, Long] =
    segmentDirs(fs, tableDir, exclude)
      .map { case (n, p) => n -> fs.getContentSummary(p).getLength }.toMap

  private def segmentDirs(fs: FileSystem, tableDir: Path,
      exclude: Set[String]): Seq[(String, Path)] =
    if (!fs.exists(tableDir)) Seq.empty
    else fs.listStatus(tableDir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("seg="))
      .map(s => s.getPath.getName.stripPrefix("seg=") -> s.getPath)
      .filter { case (n, _) => !exclude.contains(n) }

  /** Bytes of `tableDir`'s [[Base]] segment (0 when it has none). */
  private def baseBytes(fs: FileSystem, tableDir: Path): Long = {
    val p = new Path(tableDir, s"seg=$Base")
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** Size-tiered compaction of the index at `root` (its segments listed
    * from `tables.head`): heal crashed folds, escalate to the full fold
    * when the non-base bytes reach `baseFoldRatio` of base, else fold
    * every full size class, cascading until the plan is empty. */
  def compact(fs: FileSystem, root: Path, tables: Seq[String],
      excludeSegment: Option[String], fanout: Int, baseFoldRatio: Double)(
      stage: Stage): Report = {
    require(fanout >= 2, s"fanout must be >= 2, got $fanout")
    require(baseFoldRatio > 0.0,
      s"baseFoldRatio must be > 0, got $baseFoldRatio")
    val healed = recover(fs, root, tables)
    val tableDir = new Path(root, tables.head)
    def sizes() = segmentBytes(fs, tableDir, Set(Base) ++ excludeSegment)
    val current = sizes()
    if (current.nonEmpty &&
        current.values.sum >= baseFoldRatio * baseBytes(fs, tableDir)) {
      commitFold(fs, root, baseFold(current.keys.toSeq))(stage)
      return Report(Seq.empty, baseFolded = true, healed)
    }
    val done = scala.collection.mutable.ArrayBuffer.empty[Fold]
    var round = plan(current, fanout)
    while (round.nonEmpty) {
      round.foreach { f => commitFold(fs, root, f)(stage); done += f }
      round = plan(sizes(), fanout)
    }
    Report(done.toSeq, baseFolded = false, healed)
  }

  /** The full fold of the index at `root`: heal crashed folds, then fold
    * `base` and every segment except `excludeSegment` into a new base. */
  def compactBase(fs: FileSystem, root: Path, tables: Seq[String],
      excludeSegment: Option[String])(stage: Stage): Report = {
    val healed = recover(fs, root, tables)
    val segments = segmentDirs(fs, new Path(root, tables.head),
      Set(Base) ++ excludeSegment).map(_._1)
    commitFold(fs, root, baseFold(segments))(stage)
    Report(Seq.empty, baseFolded = true, healed)
  }

  private def markerPath(root: Path, tier: String): Path =
    new Path(root, s"__fold_$tier")

  private def stagePath(root: Path, tier: String): Path =
    new Path(root, s"__tierstage_$tier")

  /** Step 2 of the protocol: persist the fold intent BEFORE any rename.
    * One small file, newline-separated source labels. */
  def writeMarker(fs: FileSystem, root: Path, fold: Fold): Unit = {
    val out = fs.create(markerPath(root, fold.tier), true)
    try out.write(fold.sources.sorted.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Entry-time crash recovery over every `__fold_*` intent marker at
    * `root`: roll FORWARD ([[finish]]) when every `table` has landed —
    * for a tier fold its tier dir exists; for a full fold its tier dir
    * exists or its stage dir is gone (renamed in, maybe promoted) — and
    * roll BACK (delete the partial tier dirs) otherwise. Sources are
    * intact in the roll-back case because the protocol deletes them only
    * after every rename landed. Returns the healed tier names. */
  private def recover(fs: FileSystem, root: Path, tables: Seq[String])
      : Seq[String] = {
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).toSeq
      .filter(s => !s.isDirectory && s.getPath.getName.startsWith("__fold_"))
      .map { st =>
        val tier = st.getPath.getName.stripPrefix("__fold_")
        val sources = {
          val in = fs.open(st.getPath)
          try scala.io.Source.fromInputStream(in, "UTF-8")
            .getLines().filter(_.nonEmpty).toList
          finally in.close()
        }
        val fold = Fold(sources, tier)
        val stage = stagePath(root, tier)
        def landed(t: String) = fs.exists(tierDir(root, t, tier)) ||
          (isBaseFold(fold) && !fs.exists(new Path(stage, t)))
        if (tables.forall(landed)) finish(fs, root, fold, tables)
        else tables.foreach(t => fs.delete(tierDir(root, t, tier), true))
        // a crashed fold's stage dir would otherwise linger forever
        // (a different source set hashes to a different tier name, so
        // nothing re-stages over it)
        fs.delete(stage, true)
        fs.delete(st.getPath, false)
        tier
      }
  }

  private def tierDir(root: Path, table: String, tier: String): Path =
    new Path(root, s"$table/seg=$tier")

  /** Steps 4–5, per table that still holds its tier dir: delete the
    * sources, then (full fold) promote the tier dir to [[Base]]. A table
    * whose tier dir is gone was already promoted and is left alone. */
  private def finish(fs: FileSystem, root: Path, fold: Fold,
      tables: Seq[String]): Unit = {
    val live = tables.map(tierDir(root, _, fold.tier)).filter(fs.exists)
    live.foreach(d => fold.sources.foreach(s =>
      fs.delete(new Path(d.getParent, s"seg=$s"), true)))
    if (isBaseFold(fold)) live.foreach { d =>
      val dest = new Path(d.getParent, s"seg=$Base")
      require(fs.rename(d, dest), s"fold: promote $d -> $dest failed")
    }
  }

  /** Run one fold through the whole protocol: `stage` writes it (step
    * 1), steps 2–6 commit it. Any pre-existing tier dir (a crashed
    * identical fold that recovery rolled back between our staging and
    * here — impossible under the single-writer contract, but cheap to
    * defend) is replaced. */
  private def commitFold(fs: FileSystem, root: Path, fold: Fold)(
      stage: Stage): Unit = {
    val dir = stagePath(root, fold.tier)
    fs.delete(dir, true)
    val staged = stage(fold, dir)
    writeMarker(fs, root, fold)
    staged.foreach { case (table, src) =>
      val dest = tierDir(root, table, fold.tier)
      fs.delete(dest, true)
      fs.mkdirs(dest.getParent)
      require(fs.rename(src, dest), s"fold: rename $src -> $dest failed")
    }
    finish(fs, root, fold, staged.map(_._1))
    fs.delete(markerPath(root, fold.tier), false)
    fs.delete(dir, true)
    ()
  }

  // ---- whole-layout commit ------------------------------------------------
  // Rebuild and retrain replace a layout's meta with its tables, and the
  // rollup fold replaces every segment at once: those commit as ONE
  // directory swap, not as a fold.

  /** Strip trailing slashes so sibling names (`<path>__rebuild`,
    * `<path>__old`) attach to the directory name, not an empty
    * trailing segment. */
  def normPath(path: String): String = {
    var p = path
    while (p.length > 1 && p.endsWith("/")) p = p.substring(0, p.length - 1)
    p
  }

  /** Recursive-delete `p` ONLY if it is absent, empty, or every child
    * is a recognizable layout table (meta/assigned/centroids/pca/
    * postings/features, or a rollup's `seg=` segments) or hidden — i.e.
    * a crashed prior stage/aside of OUR own making. The stage and aside
    * live in a SIBLING namespace (`<path>__rebuild`, `<path>__old`), so
    * a user's unrelated directory that happens to sit at that name must
    * refuse loudly, never be silently destroyed. The known set is the
    * UNION of every layout family routed through [[stageDir]]/
    * [[swapLayout]] — the MinHash index stages features+postings+meta
    * here, so omitting `features` broke its documented crash-retry (a
    * crashed minhash rebuild's leftovers read as "foreign data" and the
    * retry refused). */
  private def clearOwnedDir(fs: FileSystem, p: Path, what: String): Unit = {
    if (!fs.exists(p)) return
    val known =
      Set("meta", "assigned", "centroids", "pca", "postings", "features")
    val foreign = fs.listStatus(p).map(_.getPath.getName)
      .filterNot(n => known.contains(n) || n.startsWith("seg=") ||
        n.startsWith("_") || n.startsWith("."))
    require(foreign.isEmpty,
      s"$what: $p exists and does not look like a crashed layout " +
        s"stage/aside (unrecognized entries: ${foreign.mkString(", ")})" +
        " — move it out of the way; refusing to delete foreign data")
    fs.delete(p, true)
    ()
  }

  /** Sibling staging dir for [[swapLayout]], cleared of any crashed prior
    * attempt's leftovers. A SIBLING of `path`, not a child: the
    * whole-directory swap could not otherwise move `path` aside without
    * dragging the stage along with it. */
  def stageDir(spark: org.apache.spark.sql.SparkSession, path: String,
      tag: String): String = {
    val staged = normPath(path) + tag
    val sp = new Path(staged)
    clearOwnedDir(sp.getFileSystem(spark.sparkContext.hadoopConfiguration),
      sp, "stageDir")
    staged
  }

  /** Whole-layout atomic swap — the commit step every multi-table
    * rebuild/retrain and the rollup fold route through. The new layout
    * is staged COMPLETE at a sibling dir ([[stageDir]]) and replaces
    * `path` wholesale: `path` → `<path>__old`, `staged` → `path`, drop
    * the aside. Readers therefore never observe tables from two builds —
    * a per-table sequential swap could crash between table renames and
    * PERMANENTLY leave e.g. new MinHash postings under old meta (probes
    * band-hash with the old (numHashes, bands) into a disjoint bucket
    * space; near-dups silently pass) or new IVF `assigned` under old
    * `centroids` (silent mis-probing the model_fp stamp only catches for
    * the whitened family). The one remaining crash window — between the
    * two directory renames — leaves NO live layout: readers fail LOUD on
    * the missing meta, and both the old layout (at the aside) and the
    * staged one survive intact; rename either back to recover.
    * Fail-loud-recoverable, never silently mixed. On a rename-less
    * object store this maps to writing a new layout GENERATION and
    * swapping a version pointer — same commit discipline, different
    * primitive. */
  def swapLayout(spark: org.apache.spark.sql.SparkSession, path: String,
      staged: String, what: String): Unit = {
    val dir = new Path(normPath(path))
    val tmp = new Path(normPath(staged))
    val old = new Path(normPath(path) + "__old")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    clearOwnedDir(fs, old, what)
    require(!fs.exists(dir) || fs.rename(dir, old),
      s"$what: move-aside failed for $dir")
    require(fs.rename(tmp, dir),
      s"$what: swap-in failed for $dir — the old layout is preserved " +
        s"at $old and the staged one at $tmp; rename one back to recover")
    fs.delete(old, true)
  }
}
