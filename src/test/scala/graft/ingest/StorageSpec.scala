package graft.ingest

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite

object StorageSpec {
  val Scheme = "storagespec"

  /** The raw local file system answering to the spec-only scheme. */
  class SpecRawFileSystem extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
    override def getScheme: String = Scheme
  }

  /** A non-local Hadoop file system over local disk: Storage must take
    * its Hadoop path here, as it does for s3a.
    */
  class SpecFileSystem
      extends FilterFileSystem(new LocalFileSystem(new SpecRawFileSystem)) {
    override def getScheme: String = Scheme
  }
}

/** `Storage`'s contract, run once over `file:` (served by java.nio) and
  * once over a filter file system (served by Hadoop), plus the local
  * path's own guarantees: no stale checksum sidecars, no forked processes.
  */
class StorageSpec extends AnyFunSuite {
  import StorageSpec._

  private val conf = new Configuration()
  conf.set(s"fs.$Scheme.impl", classOf[SpecFileSystem].getName)

  private def text(path: String) = Storage.readString(path, conf)

  /** A fresh directory, as a URI root under `scheme` and as a local path. */
  private def root(scheme: String): (String, NioPath) = {
    val dir = Files.createTempDirectory(s"graft-storage-$scheme")
    (s"$scheme://$dir", dir)
  }

  test("the spec scheme resolves to a non-local Hadoop file system") {
    assert(Storage.fs(root(Scheme)._1, conf).isInstanceOf[SpecFileSystem])
    assert(Storage.fs(root("file")._1, conf).isInstanceOf[LocalFileSystem])
  }

  for (label <- Seq("file", Scheme)) {
    def root(): (String, NioPath) = StorageSpec.this.root(label)

    test(s"$label: write overwrites in place") {
      val (r, dir) = root()
      Storage.writeString(s"$r/a.json", "first, longer text", conf)
      Storage.writeString(s"$r/a.json", "second", conf)
      assert(text(s"$r/a.json") === "second")
      assert(new String(Files.readAllBytes(dir.resolve("a.json")), UTF_8) === "second")
    }

    test(s"$label: write creates missing parent directories") {
      val (r, dir) = root()
      Storage.writeBytes(s"$r/x/y/z.bin", Array[Byte](1, 2, 3), conf)
      assert(Storage.exists(s"$r/x/y/z.bin", conf))
      assert(Files.readAllBytes(dir.resolve("x/y/z.bin")).toSeq === Seq[Byte](1, 2, 3))
    }

    test(s"$label: rename of a missing source is a no-op") {
      val (r, dir) = root()
      assert(Storage.rename(s"$r/nope.json", s"$r/archive/nope.json", conf) === None)
      assert(!Files.exists(dir.resolve("archive")))
    }

    test(s"$label: rename creates parents and overwrites the target") {
      val (r, dir) = root()
      Storage.writeString(s"$r/src.json", "src", conf)
      Storage.writeString(s"$r/archive/d/dst.json", "old target", conf)
      assert(Storage.rename(s"$r/src.json", s"$r/archive/d/dst.json", conf) === None)
      assert(!Storage.exists(s"$r/src.json", conf))
      assert(text(s"$r/archive/d/dst.json") === "src")
      Storage.writeString(s"$r/a.npy", "npy", conf)
      assert(Storage.rename(s"$r/a.npy", s"$r/archive/e/f/a.npy", conf) === None)
      assert(new String(Files.readAllBytes(dir.resolve("archive/e/f/a.npy")), UTF_8) === "npy")
    }

    test(s"$label: names with a space and a percent sign") {
      val (r, dir) = root()
      val name = "a b%20c.json"
      Storage.writeString(s"$r/$name", "odd", conf)
      assert(Files.exists(dir.resolve(name)))
      assert(Storage.exists(s"$r/$name", conf))
      assert(text(s"$r/$name") === "odd")
      assert(Storage.rename(s"$r/$name", s"$r/arch ive/%41.json", conf) === None)
      assert(new String(Files.readAllBytes(dir.resolve("arch ive/%41.json")), UTF_8) === "odd")
    }

    test(s"$label: readIfExists reads a file and maps a missing one to None") {
      val (r, _) = root()
      assert(Storage.readIfExists(s"$r/missing.json", conf) === None)
      assert(Storage.readIfExists(s"$r/none/missing.json", conf) === None)
      Storage.writeString(s"$r/here.json", "here", conf)
      assert(Storage.readIfExists(s"$r/here.json", conf).map(new String(_, UTF_8)) ===
        Some("here"))
      intercept[java.io.FileNotFoundException](Storage.readBytes(s"$r/missing.json", conf))
    }
  }

  private def crcFiles(dir: NioPath): Seq[String] =
    Files.walk(dir).iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".crc")).toSeq

  test("file: rewrite and rename leave no stale checksum sidecar") {
    val local = FileSystem.getLocal(conf)
    val dir = Files.createTempDirectory("graft-storage-crc")
    def hadoopWrite(name: String, body: String): Unit = {
      val out = local.create(new Path(s"file://$dir/$name"), true)
      try out.write(body.getBytes(UTF_8)) finally out.close()
    }
    def hadoopRead(name: String): String = {
      val in = local.open(new Path(s"file://$dir/$name"))
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }
    hadoopWrite("edited.json", "written by hadoop")
    hadoopWrite("moved.json", "moved bytes")
    hadoopWrite("replaced.json", "replaced by the move")
    assert(crcFiles(dir).size === 3)

    Storage.writeString(s"file://$dir/edited.json", "rewritten, and longer than before", conf)
    assert(hadoopRead("edited.json") === "rewritten, and longer than before")

    assert(Storage.rename(s"file://$dir/moved.json", s"file://$dir/replaced.json", conf) === None)
    assert(hadoopRead("replaced.json") === "moved bytes")
    assert(!Files.exists(dir.resolve("moved.json")))
    assert(crcFiles(dir) === Nil)
  }

  test("file: writes and archive renames into new directories start no process") {
    val dir = Files.createTempDirectory("graft-storage-forks")
    val thread = Thread.currentThread().getId
    val recording = new Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    try {
      for (i <- 0 until 50) {
        Storage.writeString(s"file://$dir/input/$i/doc.json", s"""{"i": $i}""", conf)
        assert(Storage.rename(s"file://$dir/input/$i/doc.json",
          s"file://$dir/archive/$i/ts/doc.json", conf) === None)
      }
    } finally recording.stop()
    val dump = Files.createTempFile("graft-storage-forks", ".jfr")
    recording.dump(dump)
    recording.close()
    val forks = RecordingFile.readAllEvents(dump).asScala.count { e =>
      e.getEventType.getName == "jdk.ProcessStart" &&
        e.getThread != null && e.getThread.getJavaThreadId == thread
    }
    Files.delete(dump)
    assert(forks === 0)
    assert(Storage.listFiles(s"file://$dir/archive", conf).size === 50)
  }
}
