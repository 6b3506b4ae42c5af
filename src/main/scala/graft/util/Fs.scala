package graft.util

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, Path,
  StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Shared filesystem helpers: directory listing, the write-temp-then-swap
  * patterns for a file and a directory, and the create-if-absent
  * primitives the table commits use. */
object Fs {
  /** Entries of directory `dir`; none if it does not exist. The stream
    * is closed before returning (an unclosed `Files.list` leaks an fd per
    * call, one per page merge). */
  def list(dir: Path): List[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toList finally s.close()
    }

  /** Recursive delete; an absent path is a no-op. */
  def deleteRec(p: Path): Unit =
    if (Files.exists(p)) {
      list(p).foreach(deleteRec)
      Files.delete(p)
    }

  /** Replace file `target` with `body` (UTF-8) atomically: write a
    * uniquely named hidden temp sibling, then rename it over the target,
    * so a reader sees the complete old file or the complete new one, and
    * two writers never share a temp file. A read-modify-write caller still
    * serializes under its own lock. */
  def replace(target: Path, body: String): Unit = {
    val tmp = target.resolveSibling(
      s".${target.getFileName}.${java.util.UUID.randomUUID}.tmp")
    try {
      Files.write(tmp, body.getBytes(UTF_8), StandardOpenOption.CREATE_NEW)
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING): Unit
    } catch { case e: Throwable => Files.deleteIfExists(tmp); throw e }
  }

  /** Swap `tmp` into `target` without ever exposing a torn table.
    *
    * The live table is MOVED aside first (rename — atomic on one
    * filesystem), the replacement moved in, and only then is the old
    * state deleted; a failed move-in restores the original. Every state
    * visible at `target` is either the complete old table, absent (the
    * documented empty-state fallback every caller handles), or the
    * complete new table — never a partial directory.
    *
    * The aside lives as a SIBLING OF TMP, not of target: the
    * PartitionedMerge callers swap `gbucket=N` partition directories
    * inside a live table root, where an aside named `gbucket=N.…`
    * would be picked up by Spark's partition discovery as a bogus
    * partition value. Tmp is always outside the live table (and for
    * bucket swaps, inside a staging dir the caller deletes), so
    * crash-leftover asides never contaminate a read.
    */
  def swapInto(tmp: Path, target: Path): Unit = {
    if (!Files.exists(target)) { Files.move(tmp, target): Unit; return }
    val aside = tmp.resolveSibling(
      tmp.getFileName.toString + s".displaced-${System.nanoTime()}")
    Files.move(target, aside)
    try Files.move(tmp, target): Unit
    catch { case e: Throwable =>
      Files.move(aside, target): Unit // restore the live table
      throw e
    }
    deleteRec(aside)
  }

  /** False when `create` fails because its file already exists. */
  private def created(create: => Any): Boolean =
    try { create; true } catch { case _: FileAlreadyExistsException => false }

  /** Claim the first integer ≥ `from` whose `create(n)` succeeds. `create`
    * must be an atomic create-if-absent (`Files.createFile`,
    * `Files.createDirectory`; an object store would use a put-if-absent
    * write), so two concurrent claimers never get the same number. */
  def claimNext(from: Long)(create: Long => Any): Long = {
    var n = from
    while (!created(create(n))) n += 1
    n
  }

  /** Run `body` holding the try-lock file `lock`; None, without running
    * it, while another holder has the lock. A lock older than `staleMs`
    * is a crashed holder's and is broken ATOMICALLY by renaming it aside,
    * so of two processes that both see it stale only the one whose rename
    * wins goes on (a delete+create pair let both delete each other's
    * fresh lock). A lock that vanishes between the failed create and the
    * stat was just released, and is retried once. */
  def withLock[T](lock: Path, staleMs: Long)(body: => T): Option[T] = {
    def take() = created(Files.createFile(lock))
    val held = take() || {
      val age =
        try System.currentTimeMillis - Files.getLastModifiedTime(lock).toMillis
        catch { case _: NoSuchFileException => -1L }
      if (age >= staleMs) {
        val tomb = lock.resolveSibling(s"${lock.getFileName}.stale-${System.nanoTime}")
        try { Files.move(lock, tomb); Files.deleteIfExists(tomb): Unit }
        catch { case _: NoSuchFileException => () }
      }
      (age < 0 || age >= staleMs) && take()
    }
    if (!held) None
    else try Some(body) finally { Files.deleteIfExists(lock): Unit }
  }

  /** `withLock`, retried every millisecond while another holder has the
    * lock: for short critical sections that every caller must run. */
  def awaitLock[T](lock: Path, staleMs: Long)(body: => T): T = {
    var done = withLock(lock, staleMs)(body)
    while (done.isEmpty) {
      Thread.sleep(1)
      done = withLock(lock, staleMs)(body)
    }
    done.get
  }
}
