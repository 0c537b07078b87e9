package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[graft.streaming.StateDir]] as the one commit path for fold state:
  * no other streaming source overwrites or swaps state by itself.
  */
class StateDirSpec extends AnyFunSuite {

  test("StateDir.scala is the one commit path for graft.streaming's persisted state") {
    val dir = Paths.get("src/main/scala/graft/streaming")
    val banned = Seq("partitionOverwriteMode", "saveAsTable", "insertInto", "mode(\"overwrite\")")
    val stream = Files.list(dir)
    val offenders = try stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "StateDir.scala")
        .flatMap(p => banned.filter(Files.readString(p).contains).map(b => s"${p.getFileName}: $b"))
        .toList
      finally stream.close()
    assert(offenders.isEmpty, offenders.mkString(", "))
    assert(!Files.exists(Paths.get("src/main/scala/graft/Fs.scala")), "graft/Fs.scala is back")
    assert(scala.util.Try(Class.forName("graft.Fs$")).isFailure, "graft.Fs is back")
  }
}
