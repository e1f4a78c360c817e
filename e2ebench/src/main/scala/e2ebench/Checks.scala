package e2ebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

/** Output checks for the MapReduce sink that do not use the code under
  * test: the reference's byte rules (R part files, keys ascending in
  * byte order within each file, no trailing newline, no leftover temp
  * files) plus a content check against the generator's own expectation.
  */
object Checks {

  /** What the sink wrote, for the per-layer sink metrics. */
  final case class SinkStats(files: Int, lines: Long, bytes: Long)

  /** Expected content of the job output. */
  sealed trait Expect
  /** Word count: word → count, from the generator's tally. */
  final case class Tally(counts: java.util.HashMap[String, java.lang.Long]) extends Expect
  /** Identity: the input lines' multiset (count + sum of line hashes). */
  final case class Multiset(lines: Long, hash: Long) extends Expect

  def loadTally(path: Path): Tally = {
    val m = new java.util.HashMap[String, java.lang.Long]()
    Files.readAllLines(path, UTF_8).asScala.foreach { l =>
      val i = l.indexOf('\t')
      m.put(l.substring(0, i), java.lang.Long.parseLong(l.substring(i + 1)))
    }
    Tally(m)
  }

  /** First 8 bytes of MD5, little endian — the generator's line hash. */
  def lineHash(md: MessageDigest, b: Array[Byte], from: Int, until: Int): Long = {
    md.reset()
    md.update(b, from, until - from)
    val d = md.digest()
    var h = 0L
    var i = 7
    while (i >= 0) { h = (h << 8) | (d(i) & 0xff); i -= 1 }
    h
  }

  private def compareBytes(b1: Array[Byte], s1: Int, e1: Int,
      b2: Array[Byte], s2: Int, e2: Int): Int = {
    var i = 0
    val n = math.min(e1 - s1, e2 - s2)
    while (i < n) {
      val c = (b1(s1 + i) & 0xff) - (b2(s2 + i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    (e1 - s1) - (e2 - s2)
  }

  /** Check one job output directory; Left(reason) on the first defect. */
  def check(dir: Path, r: Int, expect: Expect): Either[String, SinkStats] = {
    val names = Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    val parts = (0 until r).map(i => f"part-$i%05d")
    val missing = parts.filterNot(names.contains)
    if (missing.nonEmpty) return Left(s"missing part files: ${missing.mkString(",")}")
    // Hidden checksum sidecars of the part files are the local file
    // system's own; anything else (temp files above all) is a defect.
    val allowed = parts.toSet ++ parts.map(p => s".$p.crc")
    val extra = names.filterNot(allowed)
    if (extra.nonEmpty) return Left(s"unexpected files: ${extra.take(3).mkString(",")}")

    val md = MessageDigest.getInstance("MD5")
    var lines = 0L
    var bytes = 0L
    var hash = 0L
    val seen = new java.util.HashMap[String, java.lang.Long]()
    for (p <- parts) {
      val b = Files.readAllBytes(dir.resolve(p))
      bytes += b.length
      if (b.nonEmpty) {
        if (b.last == '\n') return Left(s"$p: trailing newline")
        var start = 0
        var prevS = -1
        var prevE = -1
        while (start <= b.length) {
          var end = start
          while (end < b.length && b(end) != '\n') end += 1
          var comma = start
          while (comma < end && b(comma) != ',') comma += 1
          if (comma == end) return Left(s"$p: line ${lines + 1} has no comma")
          if (prevS >= 0 && compareBytes(b, prevS, prevE, b, start, comma) > 0)
            return Left(s"$p: key out of order at line ${lines + 1}")
          prevS = start; prevE = comma
          lines += 1
          expect match {
            case Tally(_) =>
              val k = new String(b, start, comma - start, UTF_8)
              val v = new String(b, comma + 1, end - comma - 1, UTF_8)
              val n = try java.lang.Long.parseLong(v) catch {
                case _: NumberFormatException => return Left(s"$p: bad count '$v'")
              }
              if (seen.put(k, n) != null) return Left(s"$p: duplicate key '$k'")
            case Multiset(_, _) => hash += lineHash(md, b, start, end)
          }
          start = end + 1
        }
      }
    }
    expect match {
      case Tally(counts) =>
        if (seen.size != counts.size)
          return Left(s"${seen.size} distinct words, expected ${counts.size}")
        val it = counts.entrySet.iterator
        while (it.hasNext) {
          val e = it.next()
          val got = seen.get(e.getKey)
          if (got == null || got.longValue != e.getValue.longValue)
            return Left(s"count of '${e.getKey}' is $got, expected ${e.getValue}")
        }
      case Multiset(n, h) =>
        if (lines != n) return Left(s"$lines lines, expected $n")
        if (hash != h) return Left("line multiset differs from the input")
    }
    Right(SinkStats(r, lines, bytes))
  }
}
