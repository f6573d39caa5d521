package graft

import org.apache.hadoop.fs.Path
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import graft.core.ShardStore

/** Properties of the one fold protocol ([[ShardStore.fold]]), driven
  * through a toy index family: rows are integers in text files, the
  * stage is base ∪ snapshot deduplicated, and install overwrites the
  * base from the stage. */
class ShardStoreSpec extends SparkSpecBase {
  private lazy val fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private final class Crash extends RuntimeException("simulated crash")

  private def write(dir: Path, rows: Seq[Int], file: String = "part-0", commit: Boolean = true): Unit = {
    val out = fs.create(new Path(dir, file), true)
    try out.write(rows.mkString("\n").getBytes("UTF-8")) finally out.close()
    if (commit) fs.create(new Path(dir, "_SUCCESS"), true).close()
  }

  private def read(dir: Path): Seq[Int] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
      .flatMap { p =>
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).map(_.toInt).toList
        finally in.close()
      }

  private final class Toy(val home: String) {
    val tree = s"$home/shards"
    val base = new Path(s"$home/base")
    def admit(label: String, rows: Seq[Int], commit: Boolean = true): Unit =
      write(new Path(tree, ShardStore.dirName(label)), rows, commit = commit)
    /** One fold, crashing at `crashAt` ("stage": mid-stage before the
      * list; "afterStage"; "install": mid-install) when given; `during`
      * runs inside the stage, after the snapshot. */
    def fold(crashAt: String, during: () => Unit): Int =
      ShardStore.fold(spark, home, Seq(tree), () => if (crashAt == "afterStage") throw new Crash) {
        (stage, snap) =>
          val rows = (read(base) ++ snap.toSeq.flatMap(read)).distinct
          during()
          if (crashAt == "stage") {
            write(new Path(stage), rows.take((rows.size + 1) / 2), "part-crashed", commit = false)
            throw new Crash
          }
          write(new Path(stage), rows)
      } { stage =>
        val rows = read(new Path(stage))
        fs.delete(base, true)
        if (crashAt == "install") {
          write(base, rows.take(rows.size / 2))
          throw new Crash
        }
        write(base, rows)
      }
    def held: Seq[Int] = read(base) ++ ShardStore.committed(spark, tree).toSeq.flatMap(read)
  }

  test("fold: a crash at any point plus a restart holds every admitted row exactly once") {
    val cases = for {
      nBase <- Gen.choose(0, 3)
      sizes <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, Gen.choose(1, 4)))
      suffix <- Gen.oneOf("", " a", "/b", "=c", "%d")
      crash <- Gen.oneOf("stage", "afterStage", "install")
      lateDuringStage <- Gen.oneOf(true, false)
      inflight <- Gen.oneOf(true, false)
    } yield (nBase, sizes, suffix, crash, lateDuringStage, inflight)
    val prop = Prop.forAllNoShrink(cases) { case (nBase, sizes, suffix, crash, lateDuringStage, inflight) =>
      val toy = new Toy(tempDir("shardstore"))
      var next = 0
      def rows(n: Int): Seq[Int] = { val r = next until next + n; next += n; r }
      val baseRows = rows(nBase)
      write(toy.base, baseRows)
      val shardRows = sizes.zipWithIndex.flatMap { case (n, i) =>
        val r = rows(n); toy.admit(s"s$i$suffix", r); r
      }
      // a write still in flight: data but no _SUCCESS
      if (inflight) toy.admit(s"inflight$suffix", rows(1), commit = false)
      val lateRows = rows(2)
      val lateName = ShardStore.dirName(s"late$suffix")
      val admitLate = () => toy.admit(s"late$suffix", lateRows)
      val crashed =
        try { toy.fold(crash, if (lateDuringStage) admitLate else () => ()); false }
        catch { case _: Crash => true }
      if (!lateDuringStage) admitLate()
      val folded = toy.fold("", () => ())
      // before the list a restart re-snapshots (and folds the late
      // shard); after it, the restart folds exactly the listed shards
      val listed = crash != "stage"
      val left = ShardStore.committed(spark, toy.tree).map(_.getName).toSeq
      crashed :| "the crash fired" &&
        (toy.held.sorted == (baseRows ++ shardRows ++ lateRows).sorted) :|
          s"held ${toy.held.sorted}" &&
        (folded == sizes.size + (if (listed) 0 else 1)) :| s"restart folded $folded" &&
        (left == (if (listed) Seq(lateName) else Nil)) :| s"committed shards left: $left" &&
        (!inflight || fs.exists(new Path(toy.tree, ShardStore.dirName(s"inflight$suffix")))) :|
          "an uncommitted shard is never deleted" &&
        !ShardStore.folding(spark, toy.home) :| "the marker is gone"
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }
}
