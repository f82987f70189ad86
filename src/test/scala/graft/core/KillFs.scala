package graft.core

import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** The local file system under the scheme `kill:`, made to die at its k-th
  * mutating step: once armed with [[KillFs.killedAt]], every create, mkdirs,
  * rename and delete from the k-th on throws [[KillFs.Killed]], as if the
  * process had stopped there. The steps are counted below the checksum
  * layer, so a checksummed file's data and `.crc` are separate steps.
  */
class KillFs extends LocalFileSystem(new KillFs.Raw)

object KillFs {
  val Scheme = "kill"

  final class Killed extends java.io.IOException("killed at a file-system step")

  private val steps = new AtomicInteger
  @volatile private var killAt = Int.MaxValue

  private def step(): Unit =
    if (steps.incrementAndGet() >= killAt) throw new Killed

  final class Raw extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
    override protected def createOutputStreamWithMode(f: Path, append: Boolean,
                                                      permission: FsPermission): java.io.OutputStream = {
      step(); super.createOutputStreamWithMode(f, append, permission)
    }
    override def mkdirs(f: Path): Boolean = { step(); super.mkdirs(f) }
    override def mkdirs(f: Path, permission: FsPermission): Boolean = { step(); super.mkdirs(f, permission) }
    override def rename(src: Path, dst: Path): Boolean = { step(); super.rename(src, dst) }
    override def delete(f: Path, recursive: Boolean): Boolean = { step(); super.delete(f, recursive) }
  }

  /** run `body`, killing its k-th mutating step and every later one; Left
    * holds what it threw, which must come from the kill
    */
  def killedAt[A](k: Int)(body: => A): Either[Throwable, A] = {
    steps.set(0)
    killAt = k
    val out = try Right(body) catch { case e: Exception => Left(e) } finally killAt = Int.MaxValue
    out.left.foreach { e =>
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(_.isInstanceOf[Killed]),
        s"the attempt killed at step $k failed for another reason: $e")
    }
    out
  }

  /** run `body` on a fresh temporary directory, passed as a `kill:` URI and
    * as its plain path, with the scheme registered in `spark`'s session
    * conf (uncached, so every Hadoop conf the session makes reaches it)
    */
  def withDir[A](spark: SparkSession, prefix: String)(body: (String, String) => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    spark.conf.set(s"fs.$Scheme.impl", classOf[KillFs].getName)
    spark.conf.set(s"fs.$Scheme.impl.disable.cache", "true")
    try body(s"$Scheme:$dir", dir.toString)
    finally {
      spark.conf.unset(s"fs.$Scheme.impl")
      spark.conf.unset(s"fs.$Scheme.impl.disable.cache")
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }
  }
}
