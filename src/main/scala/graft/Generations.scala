package graft

import org.apache.hadoop.fs.{FileSystem, Path}

/** The crash-safety protocol of a generation store ([[RegistryStore]],
  * [[AnnStore]]): the versioned manifests under one store root, their
  * atomic commit, the commit-retry loop and the reaper. The store
  * supplies its directory kinds and its typed manifest's line codec;
  * its data files stay its own. Nothing here starts a Spark job.
  *
  * Layout: `<root>/<kind>_g<NNNNN>/` holds one generation of one
  * directory kind; `<root>/_manifests/v<NNNNN>.txt` is manifest version
  * N (a `vN` header line, then the store's own lines), and the highest
  * committed version is the live one.
  *
  * Commit protocol (the Iceberg/Delta move; RegistryStoreSpec and
  * AnnStoreSpec pin each property):
  *  1. every write lands in a FRESH generation dir no manifest
  *     references, invisible to all readers;
  *  2. the commit is ONE atomic `rename` of the next manifest version
  *     into `_manifests/` (rename-to-fresh-path is atomic on HDFS and
  *     POSIX; no manifest file is ever overwritten);
  *  3. stale generations are reaped only AFTER the commit, and only
  *     those unreferenced by the latest [[Generations.KeepVersions]]
  *     manifests: an in-flight reader that resolved the previous
  *     manifest keeps its files until two further commits land.
  * A crash before (2) leaves orphan generation dirs the next reap
  * reclaims and readers never see; a crash after (2) leaves stale but
  * unreferenced generations, and readers already see the new state. At
  * no instant is the store unreadable.
  *
  * Writer concurrency is single-writer (the maintenance scheduler's
  * job, as in Delta without a commit service); the protocol protects
  * readers against a concurrent writer and the store against a writer
  * crash at any point. A double-fired writer LOSES LOUDLY: the second
  * commit of one manifest version throws at the rename (existence-
  * guarded on stores whose rename overwrites), the live manifest is
  * untouched, and the loser's staged generation is reaped as an
  * ordinary orphan. [[commitRetrying]] turns a lost commit into a
  * re-read and a retry that references the already-staged generation,
  * so data is never rewritten. */
private[graft] final class Generations[M <: Generations.Manifest](
    kinds: Seq[String], parse: (Int, Seq[Seq[String]]) => M) {

  /** Directory of generation `g` of one kind. */
  def dir(root: String, kind: String, g: Int): String = f"$root/${kind}_g$g%05d"

  private def manifestDir(root: String) = new Path(s"$root/_manifests")
  private def manifestPath(root: String, v: Int) =
    new Path(manifestDir(root), f"v$v%05d.txt")

  /** Committed manifest versions, ascending. */
  def versions(fs: FileSystem, root: String): Seq[Int] = {
    val dir = manifestDir(root)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".txt"))
      .flatMap(n => n.stripPrefix("v").stripSuffix(".txt").toIntOption)
      .sorted
  }

  /** Manifest version `v`; the store's codec sees every non-empty line
    * split on whitespace, the header included. */
  def read(fs: FileSystem, root: String, v: Int): M = {
    val in = fs.open(manifestPath(root, v))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    parse(v, text.linesIterator.map(_.trim).filter(_.nonEmpty)
      .map(_.split("\\s+").toSeq).toSeq)
  }

  /** The live manifest: the highest committed version. */
  def current(fs: FileSystem, root: String): M = {
    val v = versions(fs, root).lastOption.getOrElse(
      throw new IllegalStateException(s"no committed manifest under $root"))
    read(fs, root, v)
  }

  /** Atomic commit of `m`: its bytes go to a tmp file, then ONE rename
    * gives them their final, never-overwritten name. `beforeRename` is a
    * test seam: it runs after the tmp body is durable and before the
    * rename, so a spec can land a full concurrent commit of the SAME
    * version inside the publish window. */
  def commit(fs: FileSystem, root: String, m: M,
             beforeRename: () => Unit = () => ()): Unit = {
    val dir = manifestDir(root)
    fs.mkdirs(dir)
    val body = (s"v${m.version}" +: m.lines).map(_ + "\n").mkString
    // The tmp name is unique PER ATTEMPT, not per version: two writers
    // committing the same next version must never share a staging
    // path, or writer B's create(overwrite=true) replaces A's staged
    // body and A's rename publishes B's manifest under A's success —
    // A's generation is silently lost and B's retry then re-appends a
    // generation the live manifest already references (double count).
    // With a nonce each writer renames only bytes it wrote itself, and
    // exactly one rename to the final name wins.
    val nonce = java.util.UUID.randomUUID.toString.take(8)
    val tmp = new Path(dir, f".tmp_v${m.version}%05d_$nonce")
    val out = fs.create(tmp, false)
    try {
      out.write(body.getBytes("UTF-8"))
      // durability fence where the FS supports it (HDFS/object stores);
      // the local checksum FS is not Syncable — close() flushes there
      try out.hsync() catch { case _: UnsupportedOperationException => () }
    } finally out.close()
    beforeRename()
    val fin = manifestPath(root, m.version)
    // Concurrent-writer guard: on HDFS/object stores rename-to-existing
    // FAILS atomically (the protocol's backbone); POSIX local rename
    // silently REPLACES, so the existence check makes a lost race fail
    // loudly there too (check-then-rename narrows but cannot close the
    // window on such stores — single-writer remains the documented
    // contract; this guard turns a double-fired scheduler into an
    // exception instead of silent last-writer-wins).
    if (fs.exists(fin) || !fs.rename(tmp, fin)) {
      fs.delete(tmp, false) // the loser reclaims its own staging file
      throw new IllegalStateException(
        s"manifest commit lost the race for $fin (single-writer violated)")
    }
  }

  /** Next unused generation id: one past every id an on-disk dir of any
    * kind carries (crashed writers leave dirs without manifest entries;
    * their ids stay burned). */
  def nextGen(fs: FileSystem, root: String): Int =
    (0 +: genDirs(fs, root).map(_._2)).max + 1

  /** Commits the manifest `next` derives from the live one, retrying a
    * commit lost to a concurrent writer (after `beforeCommit`, a test
    * seam) until `maxAttempts` commits have lost; the last loss is
    * rethrown. `next` is re-run on the re-read live manifest each time:
    * None means the live manifest already references the staged
    * generation (some commit carrying it won), so committing again
    * would publish it twice and the loop stops; a throw means the live
    * state cannot be reconciled with the staged one, and propagates. */
  def commitRetrying(fs: FileSystem, root: String, maxAttempts: Int,
                     beforeCommit: () => Unit)(next: M => Option[M]): Unit = {
    require(maxAttempts >= 1, "maxAttempts >= 1")
    var attempt = 1
    var done = false
    while (!done) next(current(fs, root)) match {
      case None => done = true
      case Some(m) =>
        beforeCommit()
        try { commit(fs, root, m); done = true }
        catch { case _: IllegalStateException if attempt < maxAttempts =>
          attempt += 1 }
    }
  }

  /** Post-commit garbage collection: deletes the generation dirs the
    * latest [[Generations.KeepVersions]] manifests do not reference
    * whose ids are below the newest referenced one, the older manifest
    * versions, and tmp files left by crashed commits of covered
    * versions. Liveness is per directory kind: a generation carried by
    * reference (a model, an unfolded band) outlives the other kinds'
    * dirs of the same id, and must not keep them alive. Idempotent;
    * safe to run any time. */
  def reap(fs: FileSystem, root: String): Unit = {
    val vs = versions(fs, root)
    val refs = vs.takeRight(Generations.KeepVersions).map(read(fs, root, _).refs)
    val live = kinds.map(k => k -> refs.flatMap(_.getOrElse(k, Nil)).toSet).toMap
    val ceiling = (0 +: live.values.flatten.toSeq).max
    genDirs(fs, root).foreach { case (kind, id, path) =>
      if (!live(kind).contains(id) && id < ceiling) fs.delete(path, true)
    }
    vs.dropRight(Generations.KeepVersions).foreach(v =>
      fs.delete(manifestPath(root, v), false))
    // a writer crash between fs.create(tmp) and the rename strands a
    // .tmp_v<NNNNN>_<nonce> file; reclaim any whose version a committed
    // manifest already covers (a live writer's in-flight tmp is always
    // at version latest+1, so it survives)
    vs.lastOption.foreach { latest =>
      val dir = manifestDir(root)
      if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith(".tmp_v"))
          n.stripPrefix(".tmp_v").takeWhile(_.isDigit).toIntOption.foreach { v =>
            if (v <= latest) fs.delete(st.getPath, false)
          }
      }
    }
  }

  /** (kind, id, path) of every generation dir under `root`. */
  private def genDirs(fs: FileSystem, root: String): Seq[(String, Int, Path)] = {
    val r = new Path(root)
    if (!fs.exists(r)) Seq.empty
    else fs.listStatus(r).toSeq.flatMap { st =>
      val n = st.getPath.getName
      kinds.find(k => n.startsWith(s"${k}_g")).flatMap(k =>
        n.stripPrefix(s"${k}_g").toIntOption.map((k, _, st.getPath)))
    }
  }
}

private[graft] object Generations {

  /** Reader protection window: generations referenced by this many
    * latest manifest versions survive reaping. */
  val KeepVersions = 2

  /** A store's typed manifest, as its line codec sees it. */
  trait Manifest {
    def version: Int
    /** The body lines after the `v<N>` header, without newlines. */
    def lines: Seq[String]
    /** Generation ids referenced, per directory kind. */
    def refs: Map[String, Seq[Int]]
  }
}
