package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source rule: every entry point gets its SparkSession from
  * [[Main.session]], so runtime config (cores, AQE, time zone) cannot drift
  * between mains. The only other builders are the measuring instruments
  * (`Bench`, `Verify`) and the CPU-pinned `ScalingChild`, which take their
  * core count from their caller. */
class SessionBuilderSpec extends AnyFunSuite {
  private val Allowed = Set("Bench", "Verify", "ScalingChild")

  test("SparkSession.builder appears in main code only in Main.session, " +
       "Bench, Verify and ScalingChild") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root (cwd has no $root)")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    // each hit is attributed to the nearest preceding top-level object and
    // the nearest preceding def
    val objectDecl = "(?m)^object (\\w+)".r
    val defDecl = "def (\\w+)".r
    val hits = files.flatMap { f =>
      val src = new String(Files.readAllBytes(f), "UTF-8")
      "SparkSession\\.builder".r.findAllMatchIn(src).map { m =>
        val before = src.substring(0, m.start)
        val obj = objectDecl.findAllMatchIn(before).toSeq.lastOption.map(_.group(1))
        val fn = defDecl.findAllMatchIn(before).toSeq.lastOption.map(_.group(1))
        (root.relativize(f).toString, obj.getOrElse("?"), fn.getOrElse("?"))
      }
    }
    assert(hits.contains(("graft/Pipeline.scala", "Main", "session")), hits)
    val stray = hits.filterNot { case (_, obj, fn) =>
      Allowed(obj) || (obj == "Main" && fn == "session")
    }
    assert(stray.isEmpty, s"session builders outside Main.session: $stray")
  }
}
