package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** What a workload's generated inputs are: recorded with every result. */
final case class Manifest(workload: String, seed: Long, bytes: Long,
    records: Long, distinctKeys: Long, plantedDuplicates: Long,
    checksum: String) {
  def json: String =
    s"""{"workload":"$workload","seed":$seed,"bytes":$bytes,""" +
      s""""records":$records,"distinct_keys":$distinctKeys,""" +
      s""""planted_duplicates":$plantedDuplicates,"checksum":"$checksum"}"""
}

object Manifest {
  private def field(json: String, k: String): String =
    ("\"" + k + "\":\"?([^,\"}]*)").r.findFirstMatchIn(json).get.group(1)
  def parse(json: String): Manifest = Manifest(field(json, "workload"),
    field(json, "seed").toLong, field(json, "bytes").toLong,
    field(json, "records").toLong, field(json, "distinct_keys").toLong,
    field(json, "planted_duplicates").toLong, field(json, "checksum"))
}

/** Seeded input generation shared by the workloads. Every generator is a
  * pure function of the seed, so the same seed gives byte-identical
  * inputs; the program under test only ever sees the files written here. */
object Inputs {

  /** Inputs are generated once per (workload, seed, generator version)
    * into `root`, then reused. A half-written directory never counts:
    * generation goes to a temp directory renamed into place at the end. */
  def cached(root: Path, workload: String, seed: Long)(
      gen: Path => Manifest): (Path, Manifest) = {
    val dir = root.resolve(s"$workload-s$seed-v$Version")
    val mf = dir.resolve("manifest.json")
    if (!Files.exists(mf)) {
      Files.createDirectories(root)
      val tmp = Files.createTempDirectory(root, s".$workload-s$seed-")
      val m = gen(tmp)
      Files.writeString(tmp.resolve("manifest.json"), m.json)
      try Files.move(tmp, dir)
      catch { case _: java.nio.file.FileAlreadyExistsException => deleteTree(tmp) }
    }
    (dir, Manifest.parse(Files.readString(mf)))
  }

  /** Bump when any generator's output for a given seed changes. */
  val Version = 6

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.deleteIfExists(f))
    finally walk.close()
  }

  /** Files under `dir` whose relative path passes `keep`, sorted. */
  def files(dir: Path, keep: Path => Boolean = _ => true): Seq[Path] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .filter(p => keep(dir.relativize(p))).toSeq.sortBy(_.toString)
    finally walk.close()
  }

  def bytesOf(ps: Seq[Path]): Long = ps.map(Files.size).sum

  /** SHA-256 over the files' relative names and contents, in name order. */
  def checksum(dir: Path, ps: Seq[Path]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](1 << 16)
    ps.foreach { p =>
      md.update(dir.relativize(p).toString.getBytes(UTF_8))
      val in = Files.newInputStream(p)
      try {
        var n = in.read(buf)
        while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
      } finally in.close()
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  def sha256(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .map(b => f"$b%02x").mkString

  // --- text -------------------------------------------------------------

  private val Letters = "abcdefghijklmnopqrstuvwxyz"

  /** A seeded vocabulary: word `rank` (1-based) is a 3-letter prefix drawn
    * from a hash of (seed, rank) followed by the rank in bijective
    * base 26, so words are distinct, at least four letters long (never a
    * stopword) and grow with rank, and first letters vary with the seed. */
  final class Vocab(seed: Long) {
    def word(rank: Int): String = {
      val sb = new java.lang.StringBuilder(12)
      var h = mix(seed * 0x9E3779B97F4A7C15L + rank)
      var i = 0
      while (i < 3) { sb.append(Letters.charAt(((h & 0xffff) % 26).toInt)); h >>>= 16; i += 1 }
      var r = rank
      while (r > 0) { r -= 1; sb.append(Letters.charAt(r % 26)); r /= 26 }
      sb.toString
    }
  }

  def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** A Zipf(s = 1) rank in [1, v] by inverse transform of the continuous
    * approximation: P(rank <= r) = ln(r + 1) / ln(v + 1). */
  def zipf(rng: java.util.Random, v: Int): Int =
    math.min(v, math.max(1, math.exp(rng.nextDouble() * math.log(v + 1.0)).toInt))

  def randomLetters(rng: java.util.Random, n: Int): String = {
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(Letters.charAt(rng.nextInt(26))); i += 1 }
    sb.toString
  }

  // --- parquet ----------------------------------------------------------

  def writeParquet(spark: SparkSession, rows: Seq[Row], schema: StructType,
      path: Path, files: Int): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), schema)
      .write.mode("overwrite").parquet(path.toString)

  def readLines(p: Path): Seq[String] =
    Files.readAllLines(p, UTF_8).asScala.toSeq

  def writeLines(p: Path, lines: Iterable[String]): Unit =
    Files.write(p, lines.asJava, UTF_8)
}
