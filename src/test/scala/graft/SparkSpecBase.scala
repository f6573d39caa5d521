package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide [[graft.core.LocalSession]]). */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session
  val sfDir = "/root/testdata/sf0.001"

  /** A fresh, existing dir for one spec's on-disk state, under this
    * JVM's temp root — which is deleted when the test JVM exits, so
    * spec output never outlives the run. */
  def tempDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(SparkSpecBase.tempRoot, tag + "_").toString

  /** A fresh path under this JVM's temp root that does not exist yet,
    * for writers and stores that create their own dir. */
  def tempPath(tag: String): String = s"${tempDir(tag)}/$tag"
}

object SparkSpecBase {
  private lazy val tempRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_spec_")
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(root.toFile))
    root
  }

  /** The shared session's warehouse (managed-table locations). */
  lazy val warehouseDir: String = tempRoot.resolve("warehouse").toString

  lazy val session: SparkSession = {
    val s = graft.core.LocalSession("graft-spec", tempRoot.toString,
      "spark.sql.maxMetadataStringLength" -> "2000",
      "spark.sql.warehouse.dir" -> warehouseDir)
    graft.sql.GraftFunctions.register(s)
    s
  }
}
