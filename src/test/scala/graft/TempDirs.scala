package graft

import java.io.File
import java.nio.file.Files
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Scratch directories under `java.io.tmpdir` that the suite deletes
  * when it ends, plus the checkpoint surgery the replay drills share. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>

  private val made = scala.collection.mutable.ArrayBuffer.empty[File]

  /** A new, empty directory. */
  def tempDir(prefix: String): String = {
    val f = Files.createTempDirectory(prefix).toFile
    made += f
    f.toString
  }

  /** A fresh path that does not exist yet (stores that create their
    * own root). */
  def freshDir(prefix: String): String = {
    val p = tempDir(prefix)
    Files.delete(new File(p).toPath)
    p
  }

  /** Simulates a crash after a micro-batch's side effects landed but
    * before Spark recorded it done: deletes the entries of the
    * checkpoint's `log` dir (`commits`, `offsets`) whose batch id fails
    * `keep`, so a restart from `ckpt` redelivers those batches under
    * the same ids. The local checksum FS keeps shadow `.crc` files;
    * left behind they make the restarted query's atomic log rename
    * fail as if another query owned the checkpoint, so they go too. */
  def prune(ckpt: String, log: String, keep: String => Boolean): Unit =
    new File(s"$ckpt/$log").listFiles().toSeq
      .filterNot(f => keep(f.getName.stripPrefix(".").stripSuffix(".crc")))
      .foreach(f => assert(f.delete(), f.toString))

  override def afterAll(): Unit =
    try super.afterAll()
    finally made.foreach(f => org.apache.commons.io.FileUtils.deleteQuietly(f))
}
