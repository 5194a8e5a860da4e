package graft.ops

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

/** Atomic publication protocol for persisted index roots (r14 ADVICE:
  * the `_INDEX` stamp fingerprints the input CORPUS, not the written
  * files, so two sessions racing the same stale stamp could interleave
  * mode-overwrite writes under one root while one of them landed a
  * valid marker — a torn index that later sessions then trust).
  *
  * Protocol: build into a sibling temp dir (`<root>.build-<uuid>` —
  * sibling, so the final move is a same-filesystem rename(2)), write
  * the marker INSIDE the temp after the data files (the crash property
  * the r14 build already had: no marker => never trusted), then swap
  * the temp into place with an atomic directory rename. Writers never
  * touch a live root in place, so a concurrent reader — or a second
  * builder — never sees a MIX of two builds; a reader mid-scan across
  * the swap keeps its POSIX file handles on the old inode. Replacing a
  * stale root is rename-aside-then-move-in, so there IS a brief window
  * where the root path doesn't exist at all — a reader opening exactly
  * then sees "absent" (and [[fresh]] returns false), which the serving
  * paths already treat as rebuild-or-retry; what can never be observed
  * is a valid marker over incomplete data. When two builders race, each
  * publishes a COMPLETE build and the last rename wins whole; a
  * builder that crashes mid-build leaves only an orphan `.build-*`
  * sibling (swept best-effort by the next builder, trusted by nobody).
  *
  * At deployment scale the same protocol is `_INDEX`-last plus an
  * atomic namespace commit (HDFS dir rename / object-store manifest
  * swap) — the invariant is the point: a valid marker is only ever
  * observable on a complete, single-writer build.
  */
object IndexStore {

  /** Is `root` already a published index for `stamp`? Exists-then-read
    * is inherently TOCTOU against a cross-JVM racer swapping the root
    * between the two calls — a vanished marker means "not fresh right
    * now", not an error (r15 ADVICE).
    */
  def fresh(root: String, stamp: String): Boolean = {
    val marker = Paths.get(root, "_INDEX")
    try Files.exists(marker) &&
      new String(Files.readAllBytes(marker), "UTF-8").trim == stamp
    catch { case _: java.nio.file.NoSuchFileException => false }
  }

  /** Ensure `root` holds a complete index for `stamp`, running
    * `build(tempDir)` (which must write every data file under the
    * given temp path) only when the current root is absent or stale.
    * Returns true when this call published a new build.
    */
  def publishIfAbsent(root: String, stamp: String)(build: String => Unit): Boolean = {
    if (fresh(root, stamp)) return false
    val rootPath = Paths.get(root)
    sweepOrphans(rootPath)
    val tmp = Paths.get(root + ".build-" + UUID.randomUUID().toString.take(8))
    try {
      Files.createDirectories(tmp)
      build(tmp.toString)
      // marker-after-data, inside the build dir: the swap below makes
      // marker+data visible in one rename
      Files.write(tmp.resolve("_INDEX"), stamp.getBytes("UTF-8"))
      swapInto(tmp, rootPath, stamp)
      true
    } finally graft.Tmp.quietDeleteRecursively(tmp) // no-op when the swap moved it
  }

  /** Atomically replace `root` with `tmp`. A root that became fresh
    * while we were building (another session won the race) is left in
    * place — both builds are complete and equivalent for `stamp`, and
    * keeping the winner avoids an unnecessary swap under its readers.
    */
  private def swapInto(tmp: Path, root: Path, stamp: String): Unit = synchronized {
    if (fresh(root.toString, stamp)) return
    Files.createDirectories(root.toAbsolutePath.getParent)
    val old = Paths.get(root.toString + ".old-" + UUID.randomUUID().toString.take(8))
    // rename the stale root aside (a cross-JVM racer may have done it
    // first — exists() then move() is inherently TOCTOU, so the move
    // itself is the authority and NoSuchFile means "already gone")
    if (Files.exists(root))
      try Files.move(root, old)
      catch { case _: java.nio.file.NoSuchFileException => () }
    try Files.move(tmp, root, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.FileAlreadyExistsException |
           _: java.nio.file.AccessDeniedException |
           _: java.nio.file.DirectoryNotEmptyException =>
        // a cross-session racer re-created root between our rename-away
        // and move-in; their build is complete (marker-last) — yield
        ()
    }
    graft.Tmp.quietDeleteRecursively(old)
  }

  /** best-effort cleanup of crashed builders' leftovers */
  private def sweepOrphans(root: Path): Unit =
    try {
      val parent = root.toAbsolutePath.getParent
      val prefix = root.getFileName.toString + ".build-"
      val oldPrefix = root.getFileName.toString + ".old-"
      if (parent != null && Files.isDirectory(parent)) {
        val it = Files.list(parent).iterator()
        while (it.hasNext) {
          val p = it.next()
          val n = p.getFileName.toString
          // only sweep stale leftovers: anything older than 1h cannot
          // belong to a live concurrent build on this box
          if ((n.startsWith(prefix) || n.startsWith(oldPrefix)) &&
              Files.getLastModifiedTime(p).toMillis <
                System.currentTimeMillis() - 3600000L)
            graft.Tmp.quietDeleteRecursively(p)
        }
      }
    } catch { case _: Throwable => () }
}
