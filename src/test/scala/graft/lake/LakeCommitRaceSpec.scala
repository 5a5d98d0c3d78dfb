package graft.lake

import java.net.URI
import java.nio.file.Files
import java.util.concurrent.CyclicBarrier
import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, FilterFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The log's commit primitive under simultaneous writers, with no Spark
  * in the way: two barrier-synchronised threads race `tryCommit` at the
  * same version, trial after trial. Every version must have exactly one
  * winner, and the committed file must be that winner's payload, whole.
  */
class LakeCommitRaceSpec extends AnyFunSuite {

  private val trials = 2000

  private def payload(trial: Int, writer: Int): Seq[LakeLog.Action] =
    Seq.tabulate(8)(i => LakeLog.Meta(s"trial-$trial-writer-$writer-$i",
      "id BIGINT", Seq("id"), None, None, trial.toLong))

  test(s"two writers racing tryCommit: exactly one intact winner per " +
      s"version ($trials trials)") {
    val base = Files.createTempDirectory("graft_commit_race")
    val root = new Path(base.resolve("tbl").toString)
    val fs = LakeLog.fileSystem(root, new Configuration())
    val won = Array.ofDim[Boolean](trials, 2)
    val barrier = new CyclicBarrier(2)
    val failure = new AtomicReference[Throwable]()
    val writers = (0 until 2).map { w =>
      val t = new Thread(() =>
        try (0 until trials).foreach { v =>
          barrier.await()
          won(v)(w) = LakeLog.tryCommit(fs, root, v.toLong, payload(v, w))
        } catch {
          case e: Throwable =>
            failure.compareAndSet(null, e)
            barrier.reset() // release the other writer
        })
      t.start()
      t
    }
    try {
      writers.foreach(_.join())
      Option(failure.get).foreach(e => throw e)
      val winners = won.map(w => (0 until 2).filter(w(_)))
      val notOne = (0 until trials).filter(winners(_).size != 1)
      val torn = (0 until trials).filterNot { v =>
        try winners(v).map(payload(v, _))
          .contains(LakeLog.readCommit(fs, root, v.toLong))
        catch { case _: ChecksumException => false }
      }
      assert(notOne.isEmpty && torn.isEmpty,
        s"${notOne.size} of $trials versions without exactly one winner " +
          s"(${notOne.take(5).map(v => s"v$v: ${winners(v).size}")}), " +
          s"${torn.size} commit files not a winner's payload intact " +
          s"(${torn.take(5).map(v => s"v$v")})")
    } finally fs.delete(new Path(base.toString), true): Unit
  }

  test("a scheme without a put-if-absent store refuses to commit") {
    val local = FileSystem.getLocal(new Configuration())
    val fs = new FilterFileSystem(local) {
      override def getUri: URI = URI.create("memory:///")
    }
    val root = new Path(
      Files.createTempDirectory("graft_commit_race").resolve("tbl").toString)
    val e = intercept[UnsupportedOperationException](
      LakeLog.tryCommit(fs, root, 0L, payload(0, 0)))
    assert(e.getMessage.contains("scheme 'memory'"))
  }
}
