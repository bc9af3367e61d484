package graft.pipeline

import java.io.RandomAccessFile
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager

/** The contract of the fork-free checkpoint manager on `file:` paths:
  * atomic publish, no-overwrite semantics, cancel hygiene, hidden temps,
  * Hadoop-identical `.crc` sidecars — and that other schemes keep Spark's
  * own manager.
  */
class LocalCheckpointFileManagerSpec extends SparkSpec {

  private def freshDir(): java.nio.file.Path = Files.createTempDirectory("lcfm")

  private def manager(dir: java.nio.file.Path, conf: Configuration = new Configuration()) =
    new LocalCheckpointFileManager(new Path(dir.toUri), conf)

  private def write(fm: CheckpointFileManager, p: Path, bytes: Array[Byte],
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(bytes)
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): Array[Byte] = {
    val in = fm.open(p)
    try in.readAllBytes() finally in.close()
  }

  private def names(dir: java.nio.file.Path): Set[String] =
    Option(dir.toFile.list()).map(_.toSet).getOrElse(Set.empty)

  private def bytes(n: Int, seed: Int = 7): Array[Byte] = {
    val r = new scala.util.Random(seed)
    Array.fill(n)(r.nextInt(256).toByte)
  }

  test("file: paths get the NIO manager") {
    val fm = manager(freshDir())
    assert(fm.underlying.getClass.getName.endsWith("LocalCheckpointFileManager$Nio"))
    assert(fm.isLocal)
  }

  test("the target is invisible until close") {
    val dir = freshDir()
    val fm = manager(dir)
    val p = new Path(dir.toUri.toString + "/sub/0")
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("v1".getBytes(UTF_8))
    out.flush()
    assert(!fm.exists(p))
    assert(!Files.exists(dir.resolve("sub/0")))
    assert(fm.list(new Path(dir.resolve("sub").toUri)).isEmpty)
    out.close()
    assert(fm.exists(p))
    assert(new String(read(fm, p), UTF_8) == "v1")
    assert(names(dir.resolve("sub")) == Set("0", ".0.crc"))
  }

  test("a no-overwrite create over an existing file throws FileAlreadyExistsException") {
    val dir = freshDir()
    val fm = manager(dir)
    val p = new Path(dir.resolve("1").toUri)
    write(fm, p, "first".getBytes(UTF_8), overwrite = false)
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("second".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](out.close())
    out.cancel() // Spark's metadata log cancels after a failed close
    assert(new String(read(fm, p), UTF_8) == "first")
    assert(names(dir) == Set("1", ".1.crc"))

    // overwrite replaces bytes and sidecar together
    write(fm, p, "third".getBytes(UTF_8), overwrite = true)
    assert(new String(read(fm, p), UTF_8) == "third")
    assert(names(dir) == Set("1", ".1.crc"))
  }

  test("racing no-overwrite creates: exactly one wins, losers leave nothing behind") {
    val dir = freshDir()
    val fm = manager(dir)
    val p = new Path(dir.resolve("race").toUri)
    val n = 8
    val pool = Executors.newFixedThreadPool(n)
    val go = new CountDownLatch(1)
    try {
      val results = (0 until n).map { i =>
        pool.submit(new Callable[Option[Int]] {
          def call(): Option[Int] = {
            val out = fm.createAtomic(p, overwriteIfPossible = false)
            out.write(s"writer-$i".getBytes(UTF_8))
            go.await()
            try { out.close(); Some(i) }
            catch { case _: FileAlreadyExistsException => None }
          }
        })
      }
      go.countDown()
      val winners = results.flatMap(_.get(30, TimeUnit.SECONDS))
      assert(winners.size == 1)
      assert(new String(read(fm, p), UTF_8) == s"writer-${winners.head}")
      assert(names(dir) == Set("race", ".race.crc"))
    } finally pool.shutdownNow()
  }

  test("cancel and an unclosed stream leave no target and no visible temp file") {
    val dir = freshDir()
    val fm = manager(dir)
    val p = new Path(dir.resolve("2").toUri)
    val cancelled = fm.createAtomic(p, overwriteIfPossible = true)
    cancelled.write(bytes(3000))
    cancelled.cancel()
    cancelled.close() // no-op after cancel
    assert(!fm.exists(p))
    assert(names(dir).isEmpty, s"cancel left ${names(dir)}")

    // a stream that is never closed: its temp file exists on disk, but no
    // target appears and the listing never shows it
    val unclosed = fm.createAtomic(p, overwriteIfPossible = true)
    unclosed.write(bytes(3000))
    unclosed.flush()
    assert(!fm.exists(p))
    assert(fm.list(new Path(dir.toUri)).isEmpty)
    assert(names(dir).nonEmpty) // the hidden temp
    unclosed.cancel()
    assert(names(dir).isEmpty)
  }

  test("list hides temp and .crc files") {
    val dir = freshDir()
    val fm = manager(dir)
    write(fm, new Path(dir.resolve("a").toUri), bytes(10), overwrite = false)
    write(fm, new Path(dir.resolve("b.delta").toUri), bytes(10), overwrite = true)
    val open = fm.createAtomic(new Path(dir.resolve("c").toUri), overwriteIfPossible = false)
    open.write(bytes(10))
    open.flush()
    try {
      assert(names(dir).size == 5) // a, b.delta, their sidecars, c's temp
      assert(fm.list(new Path(dir.toUri)).map(_.getPath.getName).toSet == Set("a", "b.delta"))
      assert(fm.list(new Path(dir.toUri), (q: Path) => q.getName.endsWith(".delta"))
        .map(_.getPath.getName).toSeq == Seq("b.delta"))
    } finally open.cancel()
  }

  test("the sidecar is byte-equal to what FileSystem.getLocal writes") {
    val dir = freshDir()
    val fm = manager(dir)
    val local = FileSystem.getLocal(new Configuration())
    Seq(0, 1, 511, 512, 513, 1024, 5000, 70000).foreach { n =>
      val data = bytes(n, seed = n)
      val ours = dir.resolve(s"ours-$n")
      val theirs = dir.resolve(s"theirs-$n")
      write(fm, new Path(ours.toUri), data, overwrite = false)
      val out = local.create(new Path(theirs.toUri), true)
      out.write(data)
      out.close()
      assert(Files.readAllBytes(ours).sameElements(data), s"n=$n data")
      val crcOurs = Files.readAllBytes(dir.resolve(s".ours-$n.crc"))
      val crcTheirs = Files.readAllBytes(dir.resolve(s".theirs-$n.crc"))
      assert(crcOurs.sameElements(crcTheirs), s"n=$n sidecar differs")
    }
    // single-byte writes (DataOutputStream.writeInt and friends) sum the same
    val byteWise = fm.createAtomic(new Path(dir.resolve("bytewise").toUri), false)
    bytes(5000, seed = 5000).foreach(b => byteWise.write(b.toInt))
    byteWise.close()
    assert(Files.readAllBytes(dir.resolve(".bytewise.crc"))
      .sameElements(Files.readAllBytes(dir.resolve(".theirs-5000.crc"))))
  }

  test("after flipping one data byte, a checksummed read throws ChecksumException") {
    val dir = freshDir()
    val fm = manager(dir)
    val p = new Path(dir.resolve("3").toUri)
    write(fm, p, bytes(2000), overwrite = false)
    assert(read(fm, p).sameElements(bytes(2000)))
    val raf = new RandomAccessFile(dir.resolve("3").toFile, "rw")
    try {
      raf.seek(1000)
      val b = raf.read()
      raf.seek(1000)
      raf.write(b ^ 0x01)
    } finally raf.close()
    intercept[ChecksumException](read(fm, p))
  }

  test("a non-file: path is handed to Spark's default manager") {
    val dir = freshDir()
    val conf = new Configuration()
    conf.set("fs.graftmock.impl", classOf[MockSchemeFileSystem].getName)
    conf.setBoolean("fs.graftmock.impl.disable.cache", true)
    conf.set(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
    val root = new Path(s"graftmock://${dir.toUri.getPath}")
    val fm = new LocalCheckpointFileManager(root, conf)
    val sparkDefault = {
      val c = new Configuration(conf)
      c.unset(LocalCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(root, c)
    }
    assert(fm.underlying.getClass == sparkDefault.getClass)
    assert(!fm.underlying.getClass.getName.contains("LocalCheckpointFileManager"))
    // and it works end to end through the delegate
    val p = new Path(root, "0")
    write(fm, p, "via-default".getBytes(UTF_8), overwrite = false)
    assert(fm.exists(p))
    assert(new String(Files.readAllBytes(dir.resolve("0")), UTF_8) == "via-default")
    // Spark's manager factory picks this class up from the conf key
    assert(CheckpointFileManager.create(new Path(dir.toUri), conf)
      .isInstanceOf[LocalCheckpointFileManager])
  }

  test("install sets the manager on the session and keeps a user-set class") {
    val key = LocalCheckpointFileManager.ConfKey
    val before = spark.conf.getOption(key)
    val userClass =
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
    try {
      spark.conf.set(key, userClass)
      LocalCheckpointFileManager.install(spark)
      assert(spark.conf.get(key) == userClass)
      spark.conf.unset(key)
      LocalCheckpointFileManager.install(spark)
      assert(spark.conf.get(key) == classOf[LocalCheckpointFileManager].getName)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

/** A `file:`-backed filesystem under another scheme, standing in for a
  * remote store (Spark's factory falls back to its FileSystem-based manager
  * for a scheme with no FileContext binding).
  */
class MockSchemeFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftmock:///")
  override def getScheme: String = "graftmock"
}
