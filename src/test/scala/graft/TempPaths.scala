package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.scalatest.{BeforeAndAfterAll, Suite}

import graft.streaming.Streaming

/** Temp files and directories under `java.io.tmpdir` that live as long
  * as the spec: each one [[tempDir]] or [[tempFile]] makes is deleted,
  * with everything under it, when the spec ends. */
trait TempPaths extends BeforeAndAfterAll { this: Suite =>

  private val made = new ConcurrentLinkedQueue[Path]()

  def tempDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    made.add(p)
    p
  }

  def tempFile(prefix: String, suffix: String): Path = {
    val p = Files.createTempFile(prefix, suffix)
    made.add(p)
    p
  }

  override def afterAll(): Unit =
    try made.asScala.foreach(Streaming.deleteRecursively)
    finally super.afterAll()
}
