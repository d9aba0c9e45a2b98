package graft

import org.scalatest.{BeforeAndAfterAll, Suite}
import java.nio.file.{Files, Path}

/** Temp dirs a suite creates, recorded and deleted once the suite has run. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>

  private val tmps = scala.collection.mutable.ArrayBuffer.empty[Path]

  def tempDir(prefix: String): Path = synchronized {
    val d = Files.createTempDirectory(prefix)
    tmps += d
    d
  }

  override def afterAll(): Unit =
    try synchronized(tmps.foreach(graft.ops.OpUtil.deleteTree)) finally super.afterAll()
}
