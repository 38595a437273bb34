package rcmbench

import org.scalatest.funsuite.AnyFunSuite

class DocsGenSpec extends AnyFunSuite {

  private val n = 5000

  test("the documents are identical for one seed and differ across seeds") {
    assert(DocsGen.docs(n, 3) == DocsGen.docs(n, 3))
    assert(DocsGen.docs(n, 3).map(_.text) != DocsGen.docs(n, 4).map(_.text))
  }

  test("the documents follow the testdata's shape") {
    val docs = DocsGen.docs(n, 1)
    val words = docs.map(_.text.split(' ').count(_ != "dup"))
    assert(words.min >= 10 && words.max <= 100)
    assert(docs.forall(d => d.n_chars == d.text.length && !d.text.contains('\n')))
    assert(docs.forall(d => d.source == s"src${d.doc_id % 20}"))
    val en = docs.count(_.lang == "en").toDouble / n
    assert(en > 0.37 && en < 0.43, s"en share $en")
    val nearDups = docs.count(_.text.endsWith(" dup")).toDouble / n
    assert(nearDups > 0.04 && nearDups < 0.06, s"near-duplicate share $nearDups")
    val exact = n - docs.map(_.text).distinct.size
    assert(exact >= 1 && exact <= 25, s"$exact exact repeats")
  }
}
