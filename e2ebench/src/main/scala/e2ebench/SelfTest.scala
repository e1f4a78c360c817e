package e2ebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

/** Self-test of the sink checks: a correct output passes and each
  * deliberately corrupted copy is rejected.
  *
  * Usage: SelfTest <scratch dir>. Prints one line per case and exits
  * non-zero if any case goes the wrong way. */
object SelfTest {

  private def write(dir: Path, files: Seq[String]): Path = {
    Main.deleteTree(dir)
    Files.createDirectories(dir)
    files.zipWithIndex.foreach { case (body, i) =>
      Files.write(dir.resolve(f"part-$i%05d"), body.getBytes(UTF_8))
    }
    dir
  }

  def main(args: Array[String]): Unit = {
    val root = Paths.get(args(0))
    val counts = new java.util.HashMap[String, java.lang.Long]()
    Seq("apple" -> 3L, "fig" -> 1L, "kiwi" -> 12L, "lime" -> 2L, "plum" -> 5L)
      .foreach { case (w, n) => counts.put(w, n) }
    val tally = Checks.Tally(counts)
    val good = Seq("apple,3\nkiwi,12\nplum,5", "fig,1\nlime,2")

    val idLines = Seq("a1,x", "b2,y,z", "c3,", "d4,w")
    val md = MessageDigest.getInstance("MD5")
    val idHash = idLines.map { l => val b = l.getBytes(UTF_8); Checks.lineHash(md, b, 0, b.length) }.sum
    val multiset = Checks.Multiset(idLines.size, idHash)
    val idGood = Seq("a1,x\nc3,", "b2,y,z\nd4,w")

    val cases: Seq[(String, Seq[String], Checks.Expect, Boolean, Path => Unit)] = Seq(
      ("wordcount: correct output", good, tally, true, _ => ()),
      ("wordcount: empty bucket file", Seq("apple,3\nfig,1\nkiwi,12\nlime,2\nplum,5", ""), tally, true, _ => ()),
      ("wordcount: one count off", Seq("apple,3\nkiwi,13\nplum,5", good(1)), tally, false, _ => ()),
      ("wordcount: one line dropped", Seq("apple,3\nkiwi,12", good(1)), tally, false, _ => ()),
      ("wordcount: key out of order", Seq("apple,3\nplum,5\nkiwi,12", good(1)), tally, false, _ => ()),
      ("wordcount: trailing newline", Seq(good(0) + "\n", good(1)), tally, false, _ => ()),
      ("wordcount: leftover temp file", good, tally, false,
        d => Files.write(d.resolve(".part-00000.attempt-7.tmp"), Array[Byte]())),
      ("wordcount: missing part file", Seq(good(0)), tally, false, _ => ()),
      ("identity: correct output", idGood, multiset, true, _ => ()),
      ("identity: one line dropped", Seq("a1,x", idGood(1)), multiset, false, _ => ()),
      ("identity: one value changed", Seq("a1,x\nc3,q", idGood(1)), multiset, false, _ => ()),
      ("identity: key out of order", Seq("c3,\na1,x", idGood(1)), multiset, false, _ => ()),
      ("identity: trailing newline", Seq(idGood(0), idGood(1) + "\n"), multiset, false, _ => ()))

    var wrong = 0
    cases.zipWithIndex.foreach { case ((name, files, expect, shouldPass, tweak), i) =>
      val dir = write(root.resolve(s"case-$i"), files)
      tweak(dir)
      val res = Checks.check(dir, 2, expect)
      val ok = res.isRight == shouldPass
      if (!ok) wrong += 1
      println(s"${if (ok) "ok  " else "FAIL"} $name -> ${res.fold(e => s"rejected ($e)", _ => "accepted")}")
      Main.deleteTree(dir)
    }
    if (wrong > 0) sys.exit(1)
  }
}
