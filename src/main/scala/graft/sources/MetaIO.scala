package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.SparkSession

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets

/** Driver-side metadata I/O for table-layout files (commit log, projection
  * catalog, reservation markers), routed through the Hadoop `FileSystem`
  * API so a graft table works on any Spark-reachable filesystem — local,
  * HDFS, S3A, ABFS — not just the driver's local disk. The reference pins
  * everything to its own file/memory-mapped backends
  * (bundles/sirix-core/src/main/java/io/sirix/io/StorageType.java); here the
  * storage contract is "whatever `Path.getFileSystem` resolves", which is
  * the 100 TB posture: the same metadata protocol runs against object
  * storage from every executor-side driver.
  *
  * All operations are tiny (a commit-log entry is one short JSON line), so
  * driver-side synchronous I/O is the right cost model — identical to how
  * Delta Lake treats its `_delta_log`.
  */
private[graft] object MetaIO {

  /** Shared lazy daemon pool for bounded-parallel metadata fetches
    * (commit-log reads, footer folds). Hot paths call these helpers
    * several times per operation — creating and tearing down a fresh pool
    * per call costs more than the reads on a local FS and thrashes
    * threads on object storage. Daemon threads: the pool must never hold
    * the JVM open. */
  private lazy val metaPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(16,
      (r: Runnable) => {
        val t = new Thread(r, "graft-meta-io")
        t.setDaemon(true)
        t
      })

  /** Map `f` over `items` with bounded parallelism on the shared pool;
    * small batches run inline (pool hand-off costs more than 4 reads).
    * IO failures propagate with their ORIGINAL exception type —
    * callers/specs match on FileNotFoundException etc., which
    * invokeAll's ExecutionException wrapper would hide. */
  def parallelMap[A, B](items: Seq[A])(f: A => B): Seq[B] =
    if (items.size <= 4) items.map(f)
    else {
      import scala.jdk.CollectionConverters._
      val futures = metaPool.invokeAll(
        items.map[java.util.concurrent.Callable[B]](a => () => f(a)).asJava)
      futures.asScala.map { fut =>
        try fut.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw Option(e.getCause).getOrElse(e)
        }
      }.toSeq
    }

  /** Hadoop conf: the active session's (so `fs.*` settings apply), else the
    * default session's (hooks and non-session threads still see S3A
    * credentials etc.), else bare — metadata helpers are also called before
    * any session exists in some specs. */
  private def conf: Configuration =
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  def fs(path: String): FileSystem = new Path(path).getFileSystem(conf)

  def exists(path: String): Boolean = fs(path).exists(new Path(path))

  def mkdirs(path: String): Unit = fs(path).mkdirs(new Path(path))

  /** Child entry names of a directory (not full paths); empty if absent. */
  def list(dir: String): Seq[String] = {
    val p = new Path(dir)
    val f = fs(dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.map(_.getPath.getName)
  }

  /** Data-file names and sizes of a directory — plain files only,
    * excluding hidden/metadata entries (`_SUCCESS`, `_manifest/`,
    * `.crc`). One LIST; the commit protocol uses it to record a
    * revision's file manifest into its commit-log entry. */
  def listFiles(dir: String): Seq[(String, Long)] = {
    val p = new Path(dir)
    val f = fs(dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .filter(s => s.isFile && {
        val n = s.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      })
      .map(s => s.getPath.getName -> s.getLen)
  }

  /** (name, mtimeMs) of child directories — the stale-temp sweep needs
    * ages so it never deletes a CONCURRENT writer's live temp dir. */
  def listDirsAged(dir: String): Seq[(String, Long)] = {
    val p = new Path(dir)
    val f = fs(dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.filter(_.isDirectory)
      .map(s => s.getPath.getName -> s.getModificationTime)
  }

  /** Child DIRECTORY names only (stray files are not namespaces). */
  def listDirs(dir: String): Seq[String] = {
    val p = new Path(dir)
    val f = fs(dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
  }

  /** Cached bulk read of an IMMUTABLE-ENTRY metadata directory (commit
    * log, compaction overlays — entries are [[createNew]]'d once and
    * never modified). One LIST per call; GETs only for entries not yet
    * cached. The cache key is (qualified path, size, mtime): a dropped
    * and recreated table can reuse an entry name, but not with the same
    * size AND modification time. Two hardenings on the cache itself:
    *
    *  - the cache is a true LRU bounded at 64k entries (one eviction per
    *    insert) — the previous clear-all-at-64k caused a thundering
    *    re-GET of every hot commit log on the next read;
    *  - [[delete]] purges every cached entry under the deleted path, so a
    *    drop-and-recreate THROUGH THIS PROCESS can never serve the old
    *    table's entries even when the store's mtime granularity (whole
    *    seconds on some object stores) would let the (size, mtime) key
    *    collide. The cross-process residual — another process drops and
    *    recreates a table with a same-length entry inside one mtime tick
    *    — is outside the single-writer discipline every metadata path
    *    already assumes.
    *
    * Returns (name, content) for entries passing `pred`, in name order
    * (commit-log parsers sort by revision themselves; deterministic
    * ordering here keeps callers reproducible). */
  private val entryCacheMax = 65536
  private val entryCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Long, Long), String](1024, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Long, Long), String]): Boolean =
          size() > entryCacheMax
      })
  def readAllCached(dir: String, pred: String => Boolean): Seq[(String, String)] = {
    val p = new Path(dir)
    val f = fs(dir)
    if (!f.exists(p)) return Seq.empty
    val entries = f.listStatus(p).toSeq
      .filter(s => s.isFile && pred(s.getPath.getName))
      .map(s => (s.getPath.getName, s.getPath.toString, s.getLen,
        s.getModificationTime))
      .sortBy(_._1)
    parallelMap(entries) { case (name, qualified, len, mtime) =>
      val key = (qualified, len, mtime)
      val cached = entryCache.get(key)
      val content =
        if (cached != null) cached
        else {
          val s = readString(qualified)
          entryCache.put(key, s)
          s
        }
      name -> content
    }
  }

  /** Drop every cached immutable-entry read at or under `path` — called
    * by [[delete]] so an in-process drop-and-recreate cannot serve stale
    * entries off a colliding (size, mtime) key. */
  private def purgeCached(path: String): Unit = {
    val qualified = {
      val f = fs(path)
      new Path(path).makeQualified(f.getUri, f.getWorkingDirectory).toString
    }
    entryCache.synchronized {
      val it = entryCache.entrySet().iterator()
      while (it.hasNext) {
        val k = it.next().getKey
        if (k._1 == qualified || k._1.startsWith(qualified + "/")) it.remove()
      }
    }
  }

  /** Count of metadata GETs ([[readString]] calls) since JVM start —
    * test-visible so specs can pin O(1)-per-operation metadata access on
    * aged tables (each read is a real GET on object storage). */
  private[graft] val readCount = new java.util.concurrent.atomic.AtomicLong()

  def readString(path: String): String = {
    readCount.incrementAndGet()
    val f = fs(path)
    val in = f.open(new Path(path))
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Create-new write: fails with [[FileAlreadyExistsException]] if the
    * file exists — the commit-log/reservation primitive. Atomic on HDFS
    * (rename refuses an existing destination, namenode-enforced) and on
    * the local FS (hard-link of a fully-written tmp file — link(2) fails
    * with EEXIST if the destination appears first, and the linked content
    * is complete, so no torn reads).
    *
    * On stores whose rename does NOT refuse an existing destination (S3A:
    * HEAD-then-COPY — two racing writers can both "succeed", last copy
    * wins), the rename is followed by a read-back: the call only returns
    * normally if the destination holds OUR bytes. With **writer-unique
    * content** (the reservation/commit markers embed a per-writer UUID —
    * see [[TemporalTable.reserveRevision]]) at most one of two racing
    * writers survives; the loser gets [[FileAlreadyExistsException]] and
    * aborts cleanly. S3's read-after-write consistency makes the read-back
    * decisive up to the copy-vs-read inversion window (~one RTT); S3
    * conditional writes close even that at the store layer. */
  def createNew(path: String, content: String): Unit = {
    val f = fs(path)
    val p = new Path(path)
    if (f.exists(p)) throw new FileAlreadyExistsException(path)
    // write-to-hidden-tmp first: content becomes visible ATOMICALLY
    // (create-then-write would let a concurrent commit-log reader observe
    // an empty/partial entry — a real torn read caught by the commit-
    // stream spec). Dot-prefixed tmp names are invisible to every
    // suffix-filtered listing.
    val tmp = new Path(p.getParent,
      s".${p.getName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    localFile(f, p) match {
      case Some(destNio) =>
        // Local FS: Hadoop's rename OVERWRITES an existing destination, so
        // two racing writers could both "reserve" the same revision.
        // link(2) is the POSIX atomic create-new: it fails if dest exists
        // and the linked inode already holds the full content. The tmp is
        // written with java.nio too — going through the Hadoop
        // ChecksumFileSystem here would strand a `.crc` sidecar per call
        // (link/delete below move only the data file).
        val dir = destNio.getParent
        java.nio.file.Files.createDirectories(dir)
        val tmpNio = dir.resolve(tmp.getName)
        java.nio.file.Files.write(tmpNio, content.getBytes(StandardCharsets.UTF_8))
        try java.nio.file.Files.createLink(destNio, tmpNio)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            java.nio.file.Files.deleteIfExists(tmpNio)
            throw new FileAlreadyExistsException(path)
        }
        java.nio.file.Files.deleteIfExists(tmpNio)
      case None =>
        val out = f.create(tmp, true)
        try out.write(content.getBytes(StandardCharsets.UTF_8))
        finally out.close()
        if (!f.rename(tmp, p)) {
          f.delete(tmp, false)
          throw new FileAlreadyExistsException(path)
        }
        // Overwriting-rename stores (S3A): require our bytes at the
        // destination, so of two writers whose renames both "succeeded"
        // only the one whose copy landed last proceeds.
        if (readString(path) != content)
          throw new FileAlreadyExistsException(
            s"$path: lost create-new race (destination holds another writer's content)")
    }
  }

  /** For file:-scheme paths, the java.nio destination; None for every
    * remote scheme (HDFS/S3A/...), which keeps the Hadoop rename path. */
  private def localFile(f: FileSystem, p: Path): Option[java.nio.file.Path] = {
    val scheme = Option(f.getUri.getScheme).getOrElse("file")
    if (scheme != "file") None
    else {
      val qualified = p.makeQualified(f.getUri, f.getWorkingDirectory)
      Some(java.nio.file.Paths.get(qualified.toUri.getPath))
    }
  }

  def delete(path: String, recursive: Boolean = false): Boolean = {
    // the cache only ever holds entries under `_commits`/`_compactions`
    // (the readAllCached call sites). Purge-scan ONLY for deletes that
    // can reach them: a metadata JSON, or a recursive delete of a tree
    // that may CONTAIN a metadata dir (a table/namespace drop). The hot
    // deletes — rev=N/_cG/cell dirs in vacuum and abort loops — can
    // never hold cached entries; scanning 64k keys under the map lock
    // there would stall concurrent commit-log readers for nothing.
    val name = new Path(path).getName
    val dataSubtree = name.matches(
      "rev=\\d+|_c\\d+|ivf_cell=[-\\d]+|compact_upto=\\d+|_keyindex|_vecidx|_vindex|_stats|_changes")
    if ((recursive && !dataSubtree) || path.endsWith(".json")) purgeCached(path)
    try fs(path).delete(new Path(path), recursive)
    catch { case _: FileNotFoundException => false }
  }

  /** Copy a directory's FILES (non-recursive) to `dst` — sidecar reuse
    * (a compacted head's manifest is content-identical to the head's:
    * bucket digests ignore file layout, so a byte copy replaces a full
    * snapshot scan + shuffle). */
  /** Directory move (HDFS/local: O(1) metadata rename; object stores
    * degrade to copy semantics in their connector). False on failure —
    * callers fall back rather than trusting a half-move. */
  def rename(src: String, dst: String): Boolean = {
    val f = fs(src)
    val dp = new Path(dst)
    val parent = dp.getParent
    if (parent != null) { f.mkdirs(parent); () }
    f.rename(new Path(src), dp)
  }

  def copyFile(src: String, dst: String): Unit = {
    org.apache.hadoop.fs.FileUtil.copy(fs(src), new Path(src), fs(dst),
      new Path(dst), false, conf)
    ()
  }

  /** Recursive directory HARDLINK copy for immutable file trees (a
    * revision's parquet files are never mutated in place — an
    * `overwrite` deletes and recreates, which only unlinks). Falls
    * back to a byte copy when the paths are not both on a local
    * filesystem. Turns the member-local commit's sidecar copy from
    * O(bytes) into O(files). */
  def linkOrCopyDir(src: String, dst: String): Unit = {
    val sp = new Path(src)
    val dp = new Path(dst)
    val local = fs(src).isInstanceOf[org.apache.hadoop.fs.LocalFileSystem] &&
      fs(dst).isInstanceOf[org.apache.hadoop.fs.LocalFileSystem]
    if (!local) { copyDir(src, dst); return }
    def localPath(p: Path): java.nio.file.Path =
      java.nio.file.Paths.get(p.toUri.getPath)
    def go(s: Path, d: Path): Unit = {
      java.nio.file.Files.createDirectories(localPath(d))
      fs(src).listStatus(s).foreach { st =>
        val tgt = new Path(d, st.getPath.getName)
        if (st.isFile) {
          try java.nio.file.Files.createLink(localPath(tgt),
            localPath(st.getPath))
          catch {
            case _: UnsupportedOperationException |
                 _: java.nio.file.FileSystemException =>
              org.apache.hadoop.fs.FileUtil.copy(fs(src), st.getPath,
                fs(dst), tgt, false, conf)
              ()
          }
          ()
        } else if (st.isDirectory) go(st.getPath, tgt)
      }
    }
    go(sp, dp)
  }

  /** Recursive directory copy (subdirectories included — a shred
    * entry's `_patch` overlay must survive copy-commits). */
  def copyDir(src: String, dst: String): Unit = {
    val sf = fs(src)
    val df = fs(dst)
    val dp = new Path(dst)
    df.mkdirs(dp)
    sf.listStatus(new Path(src)).foreach { st =>
      if (st.isFile) {
        org.apache.hadoop.fs.FileUtil.copy(sf, st.getPath, df,
          new Path(dp, st.getPath.getName), false, conf)
        ()
      } else if (st.isDirectory)
        copyDir(st.getPath.toString,
          new Path(dp, st.getPath.getName).toString)
    }
  }

  /** Overwrite write with rename visibility: content lands fully in a
    * hidden tmp file, then renames over the destination. Unlike
    * [[createNew]] this is NOT a race-safe primitive — it is for
    * best-effort sidecars ([[StatsSidecar]]) whose readers treat a
    * missing, torn, or unparseable file as "no sidecar" and fall back to
    * the scan; a lost overwrite race loses an optimization, never an
    * answer. */
  def writeStringOverwrite(path: String, content: String): Unit = {
    val f = fs(path)
    val p = new Path(path)
    val tmp = new Path(p.getParent,
      s".${p.getName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = f.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (f.exists(p)) f.delete(p, false)
    if (!f.rename(tmp, p)) {
      f.delete(tmp, false)
      throw new java.io.IOException(s"writeStringOverwrite: rename failed for $path")
    }
  }

  /** Recursively list data files under `dir`, skipping hidden
    * (`_`/`.`-prefixed) path segments — Spark's file-listing convention
    * (`_commits`, `_proj`, `.crc` never count as data). */
  def listDataFiles(dir: String, suffix: String): Seq[Path] =
    listDataFileStatus(dir, suffix).map(_.getPath)

  /** [[listDataFiles]] with full status — callers that need (length,
    * modificationTime) for cache keys get them from the listing the walk
    * already fetched, no per-file re-stat. */
  def listDataFileStatus(dir: String, suffix: String)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val root = new Path(dir)
    val f = fs(dir)
    if (!f.exists(root)) return Seq.empty
    val out = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
    def walk(p: Path): Unit = f.listStatus(p).foreach { st =>
      val name = st.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) {
        if (st.isDirectory) walk(st.getPath)
        else if (name.endsWith(suffix)) out += st
      }
    }
    walk(root)
    out.result()
  }
}
