package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** [[Sessions]] is the only session builder: specs run under the conf
  * Bench and Verify run under, and no hand-copied builder (whose conf
  * would drift) exists elsewhere in the sources. */
class SessionsSpec extends AnyFunSuite with SparkFixture {

  test("the fixture session holds every key of Sessions.conf at 4 cpus") {
    Sessions.conf("4").foreach { case (k, v) =>
      assert(spark.conf.getOption(k).contains(v), k)
    }
  }

  test("Sessions.scala is the only source that calls the session builder") {
    val builder = "SparkSession\\s*\\.\\s*builder".r
    def scala(root: String): Seq[Path] = {
      val w = Files.walk(Paths.get(root))
      try w.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally w.close()
    }
    val callers = (scala("src/main") ++ scala("src/test"))
      .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
      .map(_.getFileName.toString)
    assert(callers == Seq("Sessions.scala"))
  }
}
