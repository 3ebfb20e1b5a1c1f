package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private val small = Gen.SheetShape(days = 6, students = 300, courses = 20,
    matriculasPerDay = 60, pagosPerDay = 120)

  test("the same seed gives byte-identical sheets and the same expectations") {
    val a = Gen.sheetText(7, small)
    assert(a == Gen.sheetText(7, small))
    assert(Gen.sheetText(8, small)._1 != a._1)
    val d1 = Files.createTempDirectory("gen1")
    val d2 = Files.createTempDirectory("gen2")
    val s1 = Gen.writeSheets(d1, 7, small)
    val s2 = Gen.writeSheets(d2, 7, small)
    assert(s1.expected == s2.expected)
    for (k <- s1.paths.keys)
      assert(Files.readAllBytes(d1.resolve(s"raw_$k.csv"))
        .sameElements(Files.readAllBytes(d2.resolve(s"raw_$k.csv"))), k)
  }

  test("the same seed gives the same documents, vectors and queries") {
    val ids = 0L until 40L
    assert(Gen.docs(7, ids) == Gen.docs(7, ids))
    assert(Gen.docs(7, ids) != Gen.docs(8, ids))
    val (i1, e1, l1) = Gen.vec(7, 3)
    val (i2, e2, l2) = Gen.vec(7, 3)
    assert(i1 == i2 && e1.sameElements(e2) && l1 == l2 && e1.length == Gen.Dim)
    assert(Gen.queryTerms(Gen.rng(7, 1)) == Gen.queryTerms(Gen.rng(7, 1)))
    val xs = (0 until 50).toIndexedSeq
    assert(Gen.shuffle(Gen.rng(7, 2), xs) == Gen.shuffle(Gen.rng(7, 2), xs))
    assert(Gen.shuffle(Gen.rng(7, 2), xs).sorted == xs)
  }

  test("documents and vectors have the shape of sf0.1's") {
    val ds = Gen.docs(7, 0L until 2000L)
    val words = ds.map(_._2.split(' ').toSeq)
    val dups = words.count(_.last == "dup")
    assert(dups > 60 && dups < 140, dups) // one in twenty
    words.foreach { w =>
      val base = if (w.last == "dup") w.init else w
      assert(base.size >= 10 && base.size <= 100 && base.forall(Gen.Vocab.contains))
    }
    assert(Seq("spark", "query", "merge").forall(Gen.Vocab.contains))
    val en = ds.count(_._3 == "en")
    assert(en > 700 && en < 940, en) // 41%
    assert(ds.map(_._4).distinct.size == 20)
    (0L until 50L).foreach { id =>
      val (_, e, l) = Gen.vec(7, id)
      assert(math.abs(math.sqrt(e.map(x => x.toDouble * x).sum) - 1) < 1e-5)
      assert(l >= 0 && l < 10)
    }
  }

  test("planted anomalies shrink the expected per-day counts") {
    val (_, expected) = Gen.sheetText(7, small)
    assert(expected.size == small.days)
    expected.foreach { e =>
      // duplicate master rows do not grow the master tables
      assert(e.cursos == small.courses && e.estudiantes == small.students)
      // non-P courses and unknown students are dropped from enrolments
      assert(e.matriculas > 0 && e.matriculas < small.matriculasPerDay)
      assert(e.pagos > 0)
    }
  }
}
