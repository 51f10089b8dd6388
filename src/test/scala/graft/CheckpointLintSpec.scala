package graft

import org.scalatest.funsuite.AnyFunSuite

/** Intra-query materialization has one owner: a checkpoint taken anywhere
  * but [[Checkpoint]] escapes its one mode and its release rule. */
class CheckpointLintSpec extends AnyFunSuite {

  test("no source file but Checkpoint.scala calls localCheckpoint or checkpoint") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.exists(_.endsWith("graft/Checkpoint.scala")), s"no helper under $root")
    val call = """\.(localCheckpoint|checkpoint)\(""".r
    val offenders = for {
      f <- files if !f.endsWith("graft/Checkpoint.scala")
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if call.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
