package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier}
import scala.jdk.CollectionConverters._

/** [[IndexManifest.createExclusive]], the one landing primitive, raced
  * directly: no manifest logic sits between the racers and the file, so a
  * check-then-create lets more than one racer through.
  */
class ExclusiveCreateSpec extends AnyFunSuite {

  test("createExclusive: of 8 racers on one fresh path exactly one lands, 7 collide, the file is the winner's") {
    val fs = FileSystem.getLocal(new Configuration())
    val p = new Path(Files.createTempDirectory("graft-excl").resolve("v000000000001").toUri)
    val n = 8
    val barrier = new CyclicBarrier(n)
    val won = new ConcurrentLinkedQueue[Int]()
    val lost = new ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to n).map { i =>
      new Thread(() => {
        barrier.await()
        try {
          IndexManifest.createExclusive(fs, p, s"racer-$i".getBytes(UTF_8))
          won.add(i)
        } catch { case t: Throwable => lost.add(t) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(won.size == 1, s"winners: ${won.asScala.mkString(",")}")
    assert(lost.size == n - 1)
    lost.asScala.foreach(t => assert(t.isInstanceOf[FileAlreadyExistsException], t.toString))
    val body = new String(Files.readAllBytes(java.nio.file.Paths.get(p.toUri)), UTF_8)
    assert(body == s"racer-${won.peek()}")
  }
}
