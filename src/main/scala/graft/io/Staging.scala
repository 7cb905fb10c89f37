package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The engine's two crash-safe publish protocols, one per kind of
  * directory.
  *
  * STAGED ARTIFACTS — the model/index artifacts of the train-once/
  * serve-many families (PQ/IVF indexes, SemDeDup cells, NB/DSIR/BPE/
  * unigram-LM models, band/bucket/span/fingerprint tables, packed
  * binary landings) — publish through [[publish]] and are read through
  * [[resolveRead]]: each build lands in its own immutable
  * `<root>/v=<n>/` and a small `LATEST` manifest flips readers to it.
  * That is the only protocol of the two that stays atomic where
  * directory rename is a copy + delete (S3-like object stores): the
  * one mutation per publish is a small-manifest update, O(1) in
  * artifact bytes on any store, and a reader that resolved a version
  * keeps a complete directory until GC retires it.
  *
  * TABLES REWRITTEN IN PLACE — the watermark control table
  * ([[graft.incremental.Watermark.writeTable]], K6), [[IO.compact]],
  * the landing-manifest fold's checkpoint, the streaming upsert sink
  * and the SemDeDup norm stamp — keep their path and go through
  * [[atomicSwap]], the engine's one rename-swap; their readers (the
  * manifest bootstrap included) heal through [[recover]].
  *
  * Why plain `SaveMode.Overwrite` is not enough for a SHARED directory:
  * it deletes the live directory before the new job's files commit, so
  * (a) a reader during the rebuild window sees a missing or partial
  * artifact (the raw path-not-found the PQ stamp guard can only
  * REPORT), and (b) a crash mid-rebuild destroys the previous artifact
  * — the "once" in train-once/serve-many is gone and every consumer
  * blocks on a full retrain.
  *
  * Rename-swap protocol, per directory (multi-table directories swap as
  * ONE unit):
  *   1. heal a previous crash: live missing + old-copy present →
  *      rename it back (the only crash window leaves exactly that state);
  *   2. `build` writes the COMPLETE table under a tmp dir BESIDE the target;
  *   3. swap: live → old-copy, tmp → live — each rename
  *      `require`d, because Hadoop rename reports most failures by
  *      RETURNING FALSE (an unchecked failed second rename would let
  *      step 4 delete the last copy);
  *   4. delete the old copy.
  *
  * A reader sees the complete previous table up to the instant of
  * the same-filesystem directory rename and the complete new table
  * after it. If a write CRASHES between the two renames, reads fail
  * fast (no live path) until the next write — or an explicit
  * [[recover]] — restores the previous table; nothing is ever torn.
  * The swap relies on directory rename being atomic and O(1), which
  * holds on HDFS and POSIX filesystems. Single writer per directory or
  * artifact root is assumed for both protocols (the registry's
  * buildOnce memo / global-lock conventions); they protect READERS,
  * they do not arbitrate concurrent writers. */
object Staging {

  private def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Build-into-staging then swap live (the protocol above). `build`
    * receives the staging directory `<path>.__swap_tmp` and must leave
    * the complete artifact there; on any build failure the live
    * artifact is untouched. During the swap the previous build sits at
    * `<path>.__swap_old`, so a crash at any point leaves a complete
    * copy at one of the two — never a window with neither, which
    * delete-then-rename has. A trailing `/` on `path` is ignored: the
    * side directories must sit beside the target, never inside it. */
  def atomicSwap(spark: SparkSession, path: String)(build: String => Unit): Unit = {
    val live = path.stripSuffix("/")
    val f = fs(spark, live)
    val tmp = s"$live.__swap_tmp"
    val old = s"$live.__swap_old"
    def mv(src: String, dst: String): Unit =
      require(f.rename(new Path(src), new Path(dst)), s"rename $src -> $dst failed")
    recover(spark, live)
    f.delete(new Path(tmp), true)
    build(tmp)
    // a stale old copy can only exist here if a prior swap crashed
    // AFTER its swap-in (live exists) — safe to drop before our swap
    f.delete(new Path(old), true)
    if (f.exists(new Path(live))) mv(live, old)
    mv(tmp, live)
    f.delete(new Path(old), true)
  }

  /** Heal a crash that died between the two renames — the only state
    * with no live artifact is (live missing, `__swap_old` present).
    * Safe to call any time; [[atomicSwap]] calls it on entry, and a
    * reader that wants crash-window availability calls it before
    * reading (the watermark table, the fold checkpoint, the IVF norm
    * stamp do).
    * Concurrent heals are safe: a reader whose rename loses the race
    * re-checks that the artifact is live and proceeds. One benign race
    * with an in-flight swap, stated for the record: a reader's recover
    * firing INSIDE the builder's microsecond rename window can restore
    * the old artifact before the builder's second rename, which then
    * fails its `require` loudly — the live artifact is the intact
    * previous build, nothing is lost, and retrying the build succeeds.
    * A failed-loud build beats readers crashing on a missing artifact.
    * Recovery only ever rolls BACK: a stale `__swap_old` beside a live
    * path, or a leftover `__swap_tmp`, is inert until the next
    * [[atomicSwap]] drops it. */
  def recover(spark: SparkSession, path: String): Unit = {
    val live = new Path(path.stripSuffix("/"))
    val old = new Path(s"$live.__swap_old")
    val f = fs(spark, path)
    if (!f.exists(live) && f.exists(old)) {
      // two readers healing concurrently both pass the exists check;
      // the loser's rename returns false AFTER the winner healed — a
      // failed rename is only an error if the path is STILL missing
      require(f.rename(old, live) || f.exists(live),
        s"recovery rename $old -> $live failed")
    }
  }

  // ---- versioned publish: the staged-artifact protocol ----
  //
  // Layout under the artifact root:
  //   <root>/v=000001/...          complete artifact build (immutable once
  //                                published; multi-table trees included)
  //   <root>/v=000001/_PUBLISHED   marker written LAST — a version dir
  //                                without it is a torn/abandoned build
  //   <root>/LATEST                tiny manifest naming the live version
  //
  // Readers resolve a version ONCE and then read immutable files — no
  // reader ever observes a directory being renamed out from under it,
  // and the only mutation per publish is one small-manifest update. The
  // manifest update itself is a tmp-file + rename(OVERWRITE) — atomic on
  // HDFS/POSIX via FileContext; on S3-likes the manifest copy window is
  // microseconds over bytes, and a reader that catches it torn or
  // missing falls back to the max _PUBLISHED version scan, which is
  // always a complete artifact. Crash anywhere: before _PUBLISHED leaves
  // an inert unpublished dir (GC-able); after _PUBLISHED but before the
  // manifest update leaves LATEST on the previous complete version until
  // the next publish (or a fallback-scan reader) advances it. Single
  // writer per root.

  private val VersionFmt = "v=%06d"
  private def versionDir(root: String, v: Long): String =
    s"$root/${VersionFmt.format(v)}"

  private def listVersions(f: FileSystem, root: String): Seq[Long] =
    if (!f.exists(new Path(root))) Seq.empty
    else f.globStatus(new Path(s"$root/v=*")).toSeq
      .filter(_.isDirectory)
      .flatMap(s => s.getPath.getName.stripPrefix("v=").toLongOption)
      .sorted

  private def isPublished(f: FileSystem, root: String, v: Long): Boolean =
    f.exists(new Path(s"${versionDir(root, v)}/_PUBLISHED"))

  /** The version LATEST names, when the manifest exists, reads, parses,
    * and points at a _PUBLISHED dir — None on missing/torn/dangling,
    * which sends readers to the fallback scan. Any IOException while
    * reading counts as torn: on a checksummed filesystem (`file://`)
    * the manifest's rename moves the data file and its `.crc` sidecar
    * separately, so a kill between the two leaves new bytes under the
    * old checksum and `read` throws `ChecksumException`. */
  private def manifestVersion(f: FileSystem, root: String): Option[Long] = {
    // read to EOF, never a single read(): object-store streams may
    // legally return a short first read, and a truncated prefix of a
    // multi-digit version ("12" -> "1") PARSES as a different valid
    // version and would silently serve a stale artifact
    val txt = try {
      val in = f.open(new Path(s"$root/LATEST"))
      try {
        val buf = new java.io.ByteArrayOutputStream(64)
        val chunk = new Array[Byte](64)
        var n = in.read(chunk)
        while (n >= 0 && buf.size <= 64) {
          buf.write(chunk, 0, n)
          n = in.read(chunk)
        }
        // oversize = foreign/corrupt content, never a version number
        // (writeManifest emits <= 19 digits) — treat as torn rather
        // than parse a truncated prefix
        if (buf.size > 64) "" else buf.toString("UTF-8").trim
      } finally in.close()
    } catch { case _: java.io.IOException => "" }
    txt.toLongOption.filter(isPublished(f, root, _))
  }

  /** Live version of an artifact root: the manifest's, or — when the
    * manifest is missing, torn, or names an unpublished dir — the
    * highest _PUBLISHED version on disk. None = nothing published. */
  def liveVersion(spark: SparkSession, root: String): Option[Long] = {
    val f = fs(spark, root)
    manifestVersion(f, root)
      .orElse(listVersions(f, root).filter(isPublished(f, root, _)).lastOption)
  }

  /** Build-then-publish a new version of the artifact at `root`:
    * `build` writes the COMPLETE artifact — single- or multi-table —
    * into a fresh `<root>/v=<n>/` (n = max existing + 1, so a crashed
    * build's number is never reused), the `_PUBLISHED` marker commits
    * it, and the LATEST manifest flips readers to it. On any build
    * failure the live artifact is untouched and the partial version dir
    * stays unpublished (invisible to readers; [[gcVersions]] sweeps
    * it). Serving paths read through [[resolveRead]].
    *
    * Retention is fixed at live + 1 published predecessor: after the
    * manifest flip, [[gcVersions]] drops every older version, so a
    * re-publish over the same root never accumulates artifact copies,
    * while a reader that resolved just before the publish still has
    * its complete version on disk (the reader-grace lag). Returns the
    * published version. */
  def publish(spark: SparkSession, root: String)(build: String => Unit): Long = {
    val f = fs(spark, root)
    recover(spark, root) // heal an older build's crashed rename-swap before adopting
    f.mkdirs(new Path(root))
    adoptRenameLayout(f, root)
    val v = listVersions(f, root).lastOption.getOrElse(0L) + 1L
    val dir = versionDir(root, v)
    f.delete(new Path(dir), true)
    build(dir)
    require(f.exists(new Path(dir)),
      s"publish: build left nothing at $dir")
    f.create(new Path(s"$dir/_PUBLISHED"), true).close()
    writeManifest(spark, f, root, v)
    // GC AFTER the manifest points at v, so the sweep can only ever
    // retire versions two publishes stale (live is v, keep=1 retains
    // v-1) — the reader-grace window is structural
    gcVersions(spark, root, keep = 1)
    v
  }

  /** Migrate an artifact root an older build published by rename-swap
    * (the artifact's tables/files directly under the root) on the next
    * [[publish]]: every non-reserved root entry moves — rename-only —
    * into `v=000000` with a _PUBLISHED marker, so the previous build
    * stays the live fallback until the new version publishes and GC
    * retires it like any predecessor. Without this the old artifact's
    * data files would stay stranded at the root forever — invisible to
    * gcVersions, silently doubling storage. Single writer per root. */
  private def adoptRenameLayout(f: FileSystem, root: String): Unit = {
    if (listVersions(f, root).isEmpty && !f.exists(new Path(s"$root/LATEST"))) {
      // ".LATEST.tmp" is the shared atomic-write helper's tmp name
      // (the legacy "LATEST.__tmp" stays reserved for roots written by
      // older builds) — a crash-leftover tmp must not be adopted into
      // v0 as if it were artifact data
      val reserved = Set("LATEST", "LATEST.__tmp", ".LATEST.tmp")
      val existing = f.listStatus(new Path(root)).toSeq
        .filter(s => !reserved(s.getPath.getName) && !s.getPath.getName.startsWith("v="))
      if (existing.nonEmpty) {
        val v0 = new Path(versionDir(root, 0L))
        f.mkdirs(v0)
        existing.foreach { s =>
          require(f.rename(s.getPath, new Path(v0, s.getPath.getName)),
            s"rename-layout adoption: move ${s.getPath} -> $v0 failed")
        }
        f.create(new Path(s"$v0/_PUBLISHED"), true).close()
      }
    }
  }

  /** Flip LATEST to `v` — one shared implementation of the atomic
    * small-file publish ([[IO.atomicWriteSmallFile]]; the consumer
    * marks use the same one, so the crash-window reasoning lives in
    * one place). */
  private def writeManifest(spark: SparkSession, f: FileSystem, root: String,
                            v: Long): Unit =
    IO.atomicWriteSmallFile(spark, new Path(s"$root/LATEST"),
      v.toString.getBytes("UTF-8"))

  /** The directory a reader should scan for the artifact at `root`:
    * the live version's. Fails loudly when nothing is published there —
    * a first build that crashed before its _PUBLISHED marker (or is
    * still in flight) must not read as an empty artifact, and a root an
    * older build rename-swapped (no version dirs) must be republished,
    * which adopts it. `v=*` directories and `LATEST` are RESERVED names
    * at an artifact root. */
  def resolveRead(spark: SparkSession, root: String): String =
    versionDir(root, liveVersion(spark, root).getOrElse(
      throw new IllegalStateException(
        s"no published version at staged artifact root $root — publish it " +
          "with graft.io.Staging.publish (a root written by an older " +
          "build's rename-swap is adopted by that publish; a first build " +
          "that crashed before its _PUBLISHED marker must be rebuilt)")))

  /** Drop stale versions: keeps the live version plus its `keep` most
    * recent PUBLISHED predecessors, and deletes every other version
    * below live — including unpublished (torn/abandoned) build dirs.
    * Never touches the live version, anything newer (an in-flight
    * build's dir), or the manifest. In-flight readers of a
    * just-retired version are why `keep` defaults to 1, the value
    * [[publish]] runs it with. Returns the deleted versions. */
  def gcVersions(spark: SparkSession, root: String, keep: Int = 1): Seq[Long] = {
    require(keep >= 0, "keep must be >= 0")
    val f = fs(spark, root)
    liveVersion(spark, root) match {
      case None => Seq.empty
      case Some(live) =>
        val preds = listVersions(f, root)
          .filter(v => v < live && isPublished(f, root, v))
        val retained = preds.takeRight(keep).toSet + live
        val doomed = listVersions(f, root)
          .filter(v => v < live && !retained(v))
        doomed.foreach(v => f.delete(new Path(versionDir(root, v)), true))
        doomed
    }
  }
}
