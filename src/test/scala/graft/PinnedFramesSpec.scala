package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** The ownership rule for pinned frames: a frame that lives as long as
  * its session is pinned by `SessionCache.pin` and released by
  * `SessionCache.evictSession`; a frame that lives as long as one scope
  * is pinned by `Tables.pinned` and released when the scope exits, by
  * any path. Nothing else in the main code persists, caches or
  * unpersists.
  */
class PinnedFramesSpec extends AnyFunSuite with BeforeAndAfterAll with Eventually {

  lazy val spark: SparkSession = GraftSession.builder("local[2]", 2).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  implicit override val patienceConfig: PatienceConfig =
    PatienceConfig(timeout = 10.seconds, interval = 50.millis)

  /** (persistent RDDs, RDDs holding cached blocks) of the context. */
  private def held: (Int, Int) = {
    val sc = spark.sparkContext
    (sc.getPersistentRDDs.size, sc.getRDDStorageInfo.length)
  }

  /** RDDs whose every partition is cached. */
  private def fullyCached: Int =
    spark.sparkContext.getRDDStorageInfo.count(i => i.numCachedPartitions == i.numPartitions)

  private def frame(tag: Long) = spark.range(0, 5000, 1, 4).selectExpr("id", s"id * $tag AS v")

  test("main code persists, caches and unpersists only inside the two pin helpers") {
    val allowed = Map(
      "SessionCache.scala" -> Set("pin", "evictSession"),
      "Tables.scala" -> Set("pinned"))
    val calls = """\.persist\(|\.cache\(\)|\.unpersist\(""".r
    val member = """^  (?:private(?:\[\w+\])? )?def (\w+)""".r.unanchored
    val root = new java.io.File(sys.props("user.dir"), "src/main/scala").toPath
    val files = java.nio.file.Files.walk(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
    assert(files.size > 20, s"no main sources under $root")
    val stray = files.flatMap { f =>
      val name = f.getFileName.toString
      var owner = ""
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.flatMap { case (l, i) =>
        l match { case member(d) => owner = d; case _ => }
        val code = l.trim.split("//", 2)(0)
        val comment = code.startsWith("*") || code.startsWith("/*")
        if (!comment && calls.findFirstIn(code).isDefined && !allowed.get(name).exists(_(owner)))
          Some(s"$name:${i + 1}: ${l.trim}")
        else None
      }
    }
    assert(stray.isEmpty, stray.mkString("\n"))
  }

  test("Tables.pinned releases its pin when the body throws") {
    val before = held
    val e = intercept[IllegalStateException] {
      Tables.pinned(frame(3)) { p =>
        // materialized before the body runs
        assert(held._1 == before._1 + 1 && held._2 == before._2 + 1)
        assert(p.count() == 5000)
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    eventually { assert(held == before) }
  }

  test("a memo frame is materialized when getOrCompute returns") {
    val cached = fullyCached
    val df = SessionCache.getOrCompute(spark, "pinned-frames:materialized") {
      SessionCache.pin(frame(5))
    }
    // no action has run on the returned frame, yet its blocks are there
    assert(fullyCached == cached + 1)
    assert(df.storageLevel.useMemory)
  }

  test("SessionCache.evictSession releases a session pin") {
    val s = spark.newSession()
    val before = held
    SessionCache.getOrCompute(s, "pinned-frames:evicted") {
      SessionCache.pin(s.range(0, 5000, 1, 4).selectExpr("id", "id * 7 AS v"))
    }
    assert(held._1 == before._1 + 1 && held._2 == before._2 + 1)
    assert(SessionCache.evictSession(s) == 1)
    eventually { assert(held == before) }
  }
}
