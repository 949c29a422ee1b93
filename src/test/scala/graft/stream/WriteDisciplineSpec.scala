package graft.stream

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The write discipline by construction: no module outside [[StateStore]]
  * and [[IngestLock]] takes a lock, heartbeats or mints a lock owner, so
  * every state write of a locked root goes through [[StateStore.Locked]],
  * which heartbeats first; no module outside [[StateStore]] and
  * [[PartitionedState]] spells the per-write dynamic partition overwrite;
  * and the old-DELETE guard (F7) runs once per table, in [[ChangeStream]]. */
class WriteDisciplineSpec extends AnyFunSuite {

  /** `src/main/scala`, found from the working directory upwards. */
  private lazy val mainSrc: Path =
    Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null).map(_.resolve("src/main/scala"))
      .find(Files.isDirectory(_))
      .getOrElse(fail("src/main/scala not found above the working directory"))

  private def offenders(pattern: String, allowed: Set[String],
      skip: String => Boolean = _ => false): Seq[String] = {
    val walk = Files.walk(mainSrc)
    try walk.iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => allowed(p.getFileName.toString))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(pattern) && !skip(line) =>
            s"${mainSrc.relativize(p)}:${i + 1}"
        }
      }
    finally walk.close()
  }

  private val lockOwners = Set("StateStore.scala", "IngestLock.scala")

  Seq("IngestLock.heartbeat", "IngestLock.withLock", "UUID.randomUUID").foreach { pat =>
    test(s"$pat appears only in StateStore and IngestLock") {
      val found = offenders(pat, lockOwners)
      assert(found.isEmpty, found.mkString(s"$pat outside the locked root: ", ", ", ""))
    }
  }

  test("F7 is applied once: suppressOldDeletes is called only from ChangeStream") {
    val calls = offenders("suppressOldDeletes(", Set.empty,
      skip = _.contains("def suppressOldDeletes("))
    assert(calls.size == 1 && calls.head.startsWith("graft/stream/ChangeStream.scala:"),
      calls.mkString("suppressOldDeletes called at ", ", ", ""))
  }

  test("partitionOverwriteMode appears only in StateStore and PartitionedState") {
    val found = offenders("partitionOverwriteMode",
      Set("StateStore.scala", "PartitionedState.scala"))
    assert(found.isEmpty, found.mkString("partitionOverwriteMode at ", ", ", ""))
  }
}
