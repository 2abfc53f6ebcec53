package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all specs. One JVM-wide session (Spark
  * sessions are cheap to share, expensive to churn), built by the
  * session factory at 4 cores, so specs plan with the bench's confs.
  * The session is registered like every engine entry point's (native
  * functions, the argmax rule, the checkpoint manager default).
  * Scratch roots come from [[tmp]] and are removed after the suite.
  */
trait SparkSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val SfDir = "/root/testdata/sf0.001"

  private val roots = mutable.Buffer.empty[Path]

  /** A fresh empty directory `graft-<tag>*` under the system temp dir,
    * deleted with everything under it once the suite has run. */
  def tmp(tag: String): String = {
    val p = Files.createTempDirectory(s"graft-$tag")
    roots.synchronized(roots += p)
    p.toString
  }

  /** Best effort: a background Spark thread writing into a root as it
    * goes must not fail a suite whose tests passed. */
  override def afterAll(): Unit =
    try roots.synchronized(roots.foreach(p => Try(Dirs.deleteTree(p))))
    finally super.afterAll()

  /** Collect a single column as a sorted Seq for order-free comparison. */
  def col1[T](df: org.apache.spark.sql.DataFrame): Seq[Any] =
    df.collect().map(_.get(0)).toSeq
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Sessions.builder(4)
      .appName("graft-test")
      // FAIR scheduling so the ST6 pool-isolation test exercises real
      // concurrent pools (pool assignment is a no-op under FIFO)
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(s)
    s
  }
}
