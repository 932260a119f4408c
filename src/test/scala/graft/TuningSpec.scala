package graft

/** `ops.Tuning.inputBytes` measures through Hadoop's FileSystem: a
  * `file://` URI and a plain local path give the same bytes as a walk of
  * every file (checksum and marker files included), so a local dataset's
  * derived session settings do not move; `spark.hadoop.*` settings given
  * as `spark.*` system properties (spark-submit's `--conf`) configure the
  * filesystem; an unreadable path measures 0.
  */
class TuningSpec extends SparkSpec {

  /** Every regular file's length under `f`, recursively. */
  private def walk(f: java.io.File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)

  test("inputBytes over a file:// URI equals a walk of every file, .crc and _SUCCESS included") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tuning_bytes").toFile
    try {
      spark.range(0, 5000).selectExpr("id", "cast(id * 7 as string) AS s").repartition(3)
        .write.parquet(new java.io.File(dir, "t.parquet").getPath)
      val names = dir.listFiles().flatMap(d => Option(d.listFiles()).toSeq.flatten).map(_.getName)
      assert(names.exists(_.endsWith(".crc")) && names.contains("_SUCCESS"),
        s"the written table lacks checksum or marker files: ${names.mkString(", ")}")
      val want = walk(dir)
      assert(want > 0)
      assert(ops.Tuning.inputBytes(dir.toURI.toString) === want)
      assert(dir.toURI.toString.startsWith("file:"))
      assert(ops.Tuning.inputBytes(dir.getPath) === want)
    } finally graft.ops.ArtifactRoots.delete(dir.getPath)
  }

  test("inputBytes of the test dataset equals the walk, so its session settings are unchanged") {
    assert(ops.Tuning.inputBytes(sfDir) === walk(new java.io.File(sfDir)))
    assert(ops.Tuning.shufflePartitions(ops.Tuning.inputBytes(sfDir), 4) ===
      ops.Tuning.shufflePartitions(walk(new java.io.File(sfDir)), 4))
  }

  test("inputBytes is 0 for a missing path and an unknown filesystem") {
    assert(ops.Tuning.inputBytes("/nonexistent/graft/tuning") === 0L)
    assert(ops.Tuning.inputBytes("nosuchfs://bucket/data") === 0L)
  }

  test("inputBytes configures the filesystem from spark.hadoop.* system properties") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tuning_conf").toFile
    val keys = Seq("spark.hadoop.fs.graftprobe.impl", "spark.hadoop.fs.graftprobe.impl.disable.cache")
    try {
      java.nio.file.Files.write(new java.io.File(dir, "part-0").toPath, Array.fill[Byte](1234)(7))
      val uri = s"graftprobe://${dir.getPath}"
      assert(ops.Tuning.inputBytes(uri) === 0L, "the probe scheme resolved with no setting")
      sys.props(keys(0)) = classOf[ProbeSchemeFs].getName
      sys.props(keys(1)) = "true"
      assert(ops.Tuning.inputBytes(uri) === 1234L)
    } finally {
      keys.foreach(sys.props -= _)
      graft.ops.ArtifactRoots.delete(dir.getPath)
    }
  }
}

/** The local filesystem under the `graftprobe` scheme, which Hadoop only
  * resolves when `fs.graftprobe.impl` is set.
  */
class ProbeSchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftprobe:///")
}
