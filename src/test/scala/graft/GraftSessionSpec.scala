package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{AsOfJoinKeyPushdown, AsOfJoinStrategy, RangeJoinStrategy}

/** One session builder ([[graft.core.GraftSession]]) and one install point
  * ([[graft.plans.GraftExtensions]]): building native joins must not
  * install their strategy or rule a second time, and no entry point may
  * build a session of its own. */
class GraftSessionSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def pushdowns(s: SparkSession): Int =
    s.sessionState.optimizer.batches.flatMap(_.rules).count(_ == AsOfJoinKeyPushdown)

  test("native joins plan with the extension's strategies and rule, installed once") {
    val fresh = spark.newSession()
    Seq("join_asof_native", "join_interval_native").foreach { q =>
      SparkEntry.queries(q)(spark, TestSession.sf).queryExecution.sparkPlan
    }
    val strategies = spark.sessionState.planner.strategies
    assert(strategies.count(_ == AsOfJoinStrategy) == 1)
    assert(strategies.count(_ == RangeJoinStrategy) == 1)
    assert(pushdowns(fresh) > 0)
    assert(pushdowns(spark) <= pushdowns(fresh))
  }

  test("src/main builds sessions only in GraftSession; TestSession uses it") {
    def source(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")
    val main = Paths.get("src/main/scala")
    assert(Files.isDirectory(main), s"run from the repo root (cwd ${Paths.get("").toAbsolutePath})")
    val builders = Files.walk(main).toArray.map(_.asInstanceOf[Path])
      .filter(p => p.toString.endsWith(".scala") &&
        source(p).contains("SparkSession.builder"))
      .map(p => main.relativize(p).toString).toSeq
    assert(builders == Seq("graft/core/GraftSession.scala"))
    assert(source(Paths.get("src/test/scala/graft/TestSession.scala"))
      .contains("GraftSession.build("))
  }
}
