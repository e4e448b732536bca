package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once / read-many derived files: the one module that decides
  * where a derived file lives, how it is keyed, how it is published and
  * how a parquet one is read.
  *
  * Every derived relation in the repo (LSH signatures, the similarity
  * edge list, connected-component and LPA label assignments, the
  * scan-family round-trip files) is a pure function of the tables it
  * reads, so it is written once per tmp lifetime and read by every
  * consumer, exactly how a production pipeline shares a materialization
  * across downstream jobs. A build is named by a versioned name (bump
  * the version when the build's logic changes) and the input tables it
  * reads; `DerivedFiles(s, dir, name, inputs: _*)` places it at
  * `$java.io.tmpdir/graft_io/<name>_<key>`, where the key covers every
  * input, so rewriting any table the build reads re-derives it instead
  * of serving a stale file.
  *
  * Until round 14 each site open-coded `if (!_SUCCESS) write.mode
  * ("overwrite")` onto the SHARED target path. That check-then-write
  * is racy two ways: two JVMs (or threads) that both miss `_SUCCESS`
  * write the same directory concurrently, and `overwrite` first
  * DELETES the directory — yanking files out from under any
  * concurrent reader. The publish step ([[ensure]]) closes both races:
  *
  *  - a per-path JVM lock serializes same-process builders;
  *  - the build lands in a UNIQUE scratch directory and is atomically
  *    renamed into place (one `rename(2)` on the same filesystem), so
  *    a reader observes either no directory or a complete one, never
  *    a partial or vanishing one;
  *  - a builder that loses a cross-process rename race simply
  *    discards its scratch and reads the winner's output — last
  *    writer never clobbers.
  *
  * A stale target WITHOUT `_SUCCESS` (a crashed historical build) is
  * cleared under the lock before publishing.
  */
private[graft] object DerivedFiles {

  /** One derived file: where it lives and its content key. Nothing is
    * built until [[files]] or [[parquet]] is called.
    */
  final class DerivedFile private[DerivedFiles] (
      s: SparkSession, val path: String, val key: String) {

    /** Publish the build once — `writeTo(scratchPath)` must write a
      * directory dataset (any format) to the scratch path it is given,
      * ending with a `_SUCCESS` marker (Spark's committer drops one) —
      * and return the path, for a caller with its own reader.
      */
    def files(writeTo: String => Unit): String = { ensure(path)(writeTo); path }

    /** Build `df` into parquet once, read it back with its memoized
      * schema ([[graft.Tables.parquet]]). */
    def parquet(build: => DataFrame): DataFrame =
      graft.Tables.parquet(s, files(scratch => build.write.parquet(scratch)))
  }

  /** The derived file `name` built from the `inputs` tables of `dir`. */
  def apply(s: SparkSession, dir: String, name: String,
            inputs: String*): DerivedFile = {
    require(inputs.nonEmpty, s"derived file $name must name the tables it reads")
    val k = key(dir, inputs)
    new DerivedFile(s, s"$root/${name}_$k", k)
  }

  private def root: String =
    s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_io"

  /** md5 of each input's `dir|length|mtime`, one line per input in the
    * order given (one input: the md5 of its line alone): collision-free
    * in practice and self-invalidating when any input at the same path
    * is regenerated.
    */
  private def key(dir: String, inputs: Seq[String]): String = {
    val raw = inputs.map { t =>
      val f = new java.io.File(s"$dir/$t.parquet")
      s"$dir|${f.length()}|${f.lastModified()}"
    }.mkString("\n")
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(raw.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def complete(path: String): Boolean =
    new java.io.File(path, "_SUCCESS").exists()

  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Ensure `path` holds a complete build, producing it via
    * `writeTo(scratchPath)` if absent. The `_SUCCESS` marker doubles as
    * our completeness flag.
    */
  private def ensure(path: String)(writeTo: String => Unit): Unit = {
    if (complete(path)) return
    val lock = locks.computeIfAbsent(path, _ => new Object)
    lock.synchronized {
      if (complete(path)) return
      val target = new java.io.File(path)
      target.getParentFile.mkdirs()
      val scratch = new java.io.File(path + ".build-" +
        java.lang.Long.toHexString(Thread.currentThread().getId) + "-" +
        java.lang.Long.toHexString(System.nanoTime()))
      writeTo(scratch.getPath)
      // Publish. A concurrent process may have published while we
      // built — keep the winner (the build is a pure function of the
      // corpus, so any complete copy is THE copy) and discard scratch.
      if (complete(path)) { deleteRecursively(scratch); return }
      // A stale (incomplete) target is cleared by RENAME-ASIDE, not
      // in-place delete (r14 ADVICE): deleteRecursively on the live
      // path could tear down a complete directory that a concurrent
      // process renamed into place between our check and the delete,
      // and expose readers to a half-deleted tree. rename(2) is atomic:
      // whatever sits at `path` moves aside whole, our complete
      // scratch replaces it immediately, and the aside copy is
      // reclaimed off the live path. If the aside rename itself loses
      // a race (target vanished or was replaced), fall through — the
      // publish rename below re-checks completeness.
      // NOTE for cross-process readers: between the aside rename and the
      // publish rename below, `path` is transiently absent (ENOENT
      // window). In-process consumers are safe (they call ensure() and
      // hold the per-path lock); an out-of-process reader must either
      // tolerate a transient missing path or gate its read on the same
      // ensure() protocol — which every repo consumer does via
      // DerivedFiles(...).files / .parquet.
      if (target.exists()) {
        val aside = new java.io.File(scratch.getPath + ".aside")
        if (target.renameTo(aside)) {
          // Re-check the moved-aside copy before reclaiming it: a racing
          // PROCESS may have published a COMPLETE build between our
          // completeness check and the rename (r15 ADVICE). The build is
          // a pure function of the corpus, so a complete copy is THE
          // copy — rename the winner back and discard our scratch.
          if (complete(aside.getPath) && aside.renameTo(target)) {
            deleteRecursively(scratch)
            return
          }
          deleteRecursively(aside)
        }
      }
      if (!scratch.renameTo(target)) {
        if (!complete(path))
          throw new IllegalStateException(
            s"could not publish derived file $path")
        deleteRecursively(scratch)
      }
    }
  }
}
