package rcmbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.io.Source
import scala.jdk.CollectionConverters._

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class SourceGenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var dirs = List.empty[String]
  private def tmp(): String = {
    val d = Files.createTempDirectory("rcmbench-gen").toString
    dirs ::= d
    d
  }
  override def afterAll(): Unit = dirs.foreach(d => Workload.delete(new File(d)))

  private def files(root: String): Map[String, Array[Byte]] =
    Files.walk(Path.of(root)).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => Path.of(root).relativize(p).toString -> Files.readAllBytes(p)).toMap

  private def lines(path: String): Vector[String] = {
    val s = Source.fromFile(path, "UTF-8")
    try s.getLines().toVector finally s.close()
  }

  /** Splits a CSV line on commas outside double quotes. */
  private def fields(line: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    val cur = new StringBuilder
    var quoted = false
    line.foreach {
      case '"'               => quoted = !quoted
      case ',' if !quoted    => out += cur.toString; cur.clear()
      case c                 => cur += c
    }
    out += cur.toString
    out.result()
  }

  private val scale = 0.05

  test("the same seed writes byte-identical sources; another seed differs") {
    val (a, b, c) = (tmp(), tmp(), tmp())
    SourceGen.writeDay1(a, 7L, scale); SourceGen.writeDay1(b, 7L, scale); SourceGen.writeDay1(c, 8L, scale)
    val (fa, fb, fc) = (files(a), files(b), files(c))
    assert(fa.keySet == fb.keySet && fa.size == 12)
    fa.foreach { case (k, v) => assert(java.util.Arrays.equals(v, fb(k)), k) }
    assert(fa.exists { case (k, v) => !java.util.Arrays.equals(v, fc(k)) })
  }

  test("sources carry the reference's quirks") {
    val root = tmp()
    val t = SourceGen.writeDay1(root, 3L, scale)
    val a = SourceGen.hospitalDir(root, "hospital_a")
    val b = SourceGen.hospitalDir(root, "hospital_b")
    assert(lines(s"$a/patients.csv").head ==
      "PatientID,FirstName,LastName,MiddleName,SSN,PhoneNumber,Gender,DOB,Address,ModifiedDate")
    assert(lines(s"$b/patients.csv").head ==
      "ID,F_Name,L_Name,M_Name,SSN,PhoneNumber,Gender,DOB,Address,Updated_Date")
    val pb = lines(s"$b/patients.csv").tail.map(fields)
    assert(pb.forall(_(0).startsWith("HOSP1-")))
    assert(pb.map(_(6)).toSet == Set("Female", "Male"))
    assert(pb.forall(_(8).contains(",")))
    assert(lines(s"$a/providers.csv").tail.forall(_.startsWith("H1-PROV")))
    val tr = lines(s"$a/transactions.csv").tail.map(fields)
    assert(tr.forall(_(3).matches("PROV\\d{4}")))
    assert(tr.exists(f => f(9).length > 12)) // float32 widening artifacts
    assert(lines(s"$b/transactions.csv")(1).startsWith("TRANS000001,"))
    assert(lines(s"$a/transactions.csv")(1).startsWith("TRANS000001,"))
    val claims = SourceGen.hospitals.flatMap(h => lines(SourceGen.claimsFile(root, h)).tail.map(fields))
    assert(claims.count(_(9) == "0.0") > 0)
    assert(claims.size == t.claims && tr.size * 2 == t.transactions)
    assert(t.orphanTransactions > 0 && t.orphanTransactions == t.nullPatientClaims)
    assert(math.abs(claims.map(_(9).toDouble).sum - t.claimAmountSum) < 1e-6 * t.claimAmountSum)
  }

  test("day-2 change fractions are exact") {
    val (r1, r2) = (tmp(), tmp())
    SourceGen.writeDay1(r1, 5L, scale)
    val d2 = SourceGen.writeDay2(r1, r2, 5L, scale)
    val n = SourceGen.patientsPerHospital(scale)
    val (tracked, untracked, fresh) = SourceGen.day2Counts(n)
    assert((tracked, untracked, fresh) == (n * 5 / 100, n / 100, n * 2 / 100))
    var (seenTracked, seenUntracked, seenNew) = (0, 0, 0)
    for (h <- SourceGen.hospitals) {
      val before = lines(s"${SourceGen.hospitalDir(r1, h)}/patients.csv").tail.map(fields)
        .map(f => f(0) -> f).toMap
      val after = lines(s"${SourceGen.hospitalDir(r2, h)}/patients.csv").tail.map(fields)
      assert(after.size == n + fresh)
      after.foreach { f =>
        before.get(f(0)) match {
          case None => seenNew += 1
          case Some(o) =>
            // 1 FirstName, 2 LastName, 8 Address; nothing else may change
            val diff = f.indices.filter(i => f(i) != o(i)).toSet
            assert(Set(Set.empty[Int], Set(1), Set(2), Set(8)).contains(diff), s"${f(0)} changed $diff")
            if (diff == Set(2) || diff == Set(8)) seenTracked += 1
            if (diff == Set(1)) seenUntracked += 1
        }
      }
      for (t <- Seq("departments", "encounters", "providers", "transactions"))
        assert(lines(s"${SourceGen.hospitalDir(r1, h)}/$t.csv") ==
          lines(s"${SourceGen.hospitalDir(r2, h)}/$t.csv"))
    }
    assert(seenTracked == 2 * tracked && seenUntracked == 2 * untracked && seenNew == 2 * fresh)
    assert(d2.tracked == seenTracked && d2.untracked == seenUntracked && d2.newIds == seenNew)
  }
}
