package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser

/** Seeded input generation helpers. Inputs are written with plain JVM code
  * (no Spark), so the program under test only ever sees the files. */
object Inputs {

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** A pronounceable pseudo-word of 3 to 9 letters. */
  def word(r: SplittableRandom): String = {
    val cons = "bcdfghjklmnprstvwz"
    val vow = "aeiou"
    val len = 3 + r.nextInt(7)
    val sb = new StringBuilder
    for (i <- 0 until len) sb += (if (i % 2 == 0) cons(r.nextInt(cons.length)) else vow(r.nextInt(vow.length)))
    sb.result()
  }

  /** `n` distinct pseudo-words. */
  def vocabulary(r: SplittableRandom, n: Int): Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) seen += word(r)
    seen.toArray
  }

  def writeLines(path: Path, lines: Iterator[String]): Long = {
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path, UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    Files.size(path)
  }

  /** JSON string literal. */
  def q(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').result()
  }

  /** Writes one parquet file of `rows` under `schema` (parquet message
    * syntax); each row is filled by `fill(group, i)`. Returns its size. */
  def writeParquet(path: Path, schema: String, rows: Int)(fill: (Group, Int) => Unit): Long = {
    Files.createDirectories(path.getParent)
    val mt = MessageTypeParser.parseMessageType(schema)
    val factory = new SimpleGroupFactory(mt)
    val conf = new Configuration()
    val w: ParquetWriter[Group] = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path.toUri))
      .withConf(conf).withType(mt).build()
    try (0 until rows).foreach { i =>
      val g = factory.newGroup()
      fill(g, i)
      w.write(g)
    } finally w.close()
    Files.size(path)
  }

  /** Order-independent 64-bit digest of a multiset of strings. */
  def digest(rows: Iterator[String]): Long =
    rows.foldLeft(0L) { (acc, s) =>
      val h = (scala.util.hashing.MurmurHash3.stringHash(s, 0x2f1a).toLong << 32) ^
        (scala.util.hashing.MurmurHash3.stringHash(s, 0x71c3).toLong & 0xffffffffL)
      acc + h
    }

  def hex(algorithm: String, s: String): String =
    java.security.MessageDigest.getInstance(algorithm).digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally walk.close()
    }
}
