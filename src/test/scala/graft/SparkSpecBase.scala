package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM, forked by sbt). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(cores = 4, appName = "graft-test")
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpecBase extends AnyFunSuite {
  def spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir

  /** The on-disk shape of a state version `dir/v=N` (a `file:` URI):
    * every directory and every `_`-prefixed marker file under it, as
    * paths relative to the version dir — data part files and checksum
    * files left out, so the set pins the layout, not the file naming.
    */
  def versionTree(dir: String, v: Long): Set[String] = {
    def walk(f: java.io.File, rel: String): Seq[String] =
      Option(f.listFiles).toSeq.flatten.flatMap { c =>
        val r = if (rel.isEmpty) c.getName else s"$rel/${c.getName}"
        if (c.isDirectory) r +: walk(c, r)
        else if (c.getName.startsWith("_")) Seq(r)
        else Nil
      }
    walk(new java.io.File(new java.net.URI(s"$dir/v=$v")), "").toSet
  }

  /** The tree [[versionTree]] expects of a committed version whose
    * table dirs are `tables` (each with Spark's `_SUCCESS`).
    */
  def committedTree(tables: Seq[String]): Set[String] =
    (tables.flatMap(t => Seq(t, s"$t/_SUCCESS")) :+ "_COMMITTED").toSet
}
