package rcmbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import java.time.LocalDate

import scala.collection.mutable

/** Deterministic, seeded generator of the two hospitals' RCM sources,
  * shaped like the reference's CSVs (FIXTURES.md §1):
  *  - hospital A's patients DDL (`PatientID, FirstName, ...,
  *    ModifiedDate`) and hospital B's (`ID, F_Name, ..., Updated_Date`);
  *  - B's patient ids are also `HOSP1-`-prefixed (the reference's quirk);
  *  - Gender written as full words, phones with `+`/`-`/`x`, addresses
  *    with commas (quoted CSV);
  *  - providers keyed `H1-PROV####`/`H2-PROV####` while transactions
  *    reference `PROV####`, so no provider key ever resolves;
  *  - float32 amount artifacts (`988.3699951171875`) and some
  *    `ClaimAmount = 0` claims;
  *  - `TransactionID`s numbered from `TRANS000001` in both hospitals,
  *    so they collide across hospitals.
  *
  * Scale 1 is the reference's size: 5,000 patients, 10,000 encounters,
  * 10,000 transactions and 10,000 claims per hospital. The generator
  * returns what it wrote ([[Truth]]) so the benchmark can check the
  * pipeline's star against it without a second engine.
  */
object SourceGen {

  val hospitals: Seq[String] = Seq("hospital_a", "hospital_b")
  val firstDay: LocalDate = LocalDate.parse("2020-01-01")
  val dayCount = 1772 // 2020-01-01 .. 2024-11-06, the reference's dim_date span
  val departmentsPerHospital = 19
  val providersPerHospital: Map[String, Int] = Map("hospital_a" -> 28, "hospital_b" -> 27)

  private val firstNames = Vector("Rick", "Anna", "Maria", "James", "Wei", "Olga",
    "Lena", "Tom", "Ines", "Raj", "Kofi", "Sara", "Ivan", "Mina", "Paul", "Rosa")
  private val lastNames = Vector("Russo", "Smith", "Garcia", "Chen", "Novak",
    "Okafor", "Larsen", "Patel", "Dubois", "Silva", "Kim", "Moreau", "Haas",
    "Jensen", "Rossi", "Nagy")
  private val specializations = Vector("Cardiology", "Oncology", "Pediatrics",
    "Neurology", "Radiology", "Orthopedics")
  private val claimStatuses = Vector("Paid", "Approved", "Pending", "Denied", "Rejected")
  private val payorTypes = Vector("Government", "Private", "Self-pay")

  /** What one generated day holds, as the pipeline should see it. */
  final case class Truth(
      patients: Long, providers: Long, departments: Long, encounters: Long,
      transactions: Long, claims: Long, procedureCodes: Long, dates: Long,
      orphanTransactions: Long, nullPatientClaims: Long,
      claimAmountSum: Double, paidAmountSum: Double, csvBytes: Long)

  /** The day-2 patient changes, counted over both hospitals. */
  final case class Day2Truth(tracked: Long, untracked: Long, newIds: Long, csvBytes: Long)

  /** Exact change counts for `n` patients: 5% tracked (Address or
    * LastName), 1% untracked-only (FirstName) and 2% new ids, each
    * rounded down. */
  def day2Counts(n: Int): (Int, Int, Int) = (n * 5 / 100, n / 100, n * 2 / 100)

  def patientsPerHospital(scale: Double): Int = math.max(100, math.round(5000 * scale).toInt)
  def rowsPerHospital(scale: Double): Int = math.max(200, math.round(10000 * scale).toInt)

  def hospitalDir(root: String, hospital: String): String = s"$root/$hospital"
  def claimsFile(root: String, hospital: String): String = s"$root/claims/${hospital}_claim_data.csv"

  private final case class Patient(id: String, first: String, last: String,
      middle: String, ssn: String, phone: String, gender: String, dob: LocalDate,
      address: String, modified: LocalDate)

  private final class Csv(path: String) {
    new File(path).getParentFile.mkdirs()
    private val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path), StandardCharsets.UTF_8), 1 << 16)
    def row(fields: Any*): Unit = {
      var i = 0
      while (i < fields.length) {
        if (i > 0) out.write(',')
        fields(i) match {
          case null => ()
          case s: String if s.indexOf(',') >= 0 || s.indexOf('"') >= 0 =>
            out.write('"'); out.write(s.replace("\"", "\"\"")); out.write('"')
          case v => out.write(v.toString)
        }
        i += 1
      }
      out.write('\n')
    }
    def close(): Unit = out.close()
  }

  private def day(i: Int): LocalDate = firstDay.plusDays(i.toLong)
  /** A cents amount widened through float32, as the reference's float
    * columns carry it. */
  private def amount(cents: Long): Double = (cents / 100.0).toFloat.toDouble

  private def patients(rnd: java.util.SplittableRandom, hospital: String, n: Int): Vector[Patient] =
    Vector.tabulate(n) { i =>
      Patient(
        id = f"HOSP1-${i + 1}%06d",
        first = firstNames(rnd.nextInt(firstNames.size)),
        last = lastNames(rnd.nextInt(lastNames.size)),
        middle = ('A' + rnd.nextInt(26)).toChar.toString,
        ssn = f"${rnd.nextInt(900) + 100}%03d-${rnd.nextInt(90) + 10}%02d-${rnd.nextInt(9000) + 1000}%04d",
        phone = f"+1-${rnd.nextInt(800) + 200}%03d-${rnd.nextInt(900) + 100}%03d-" +
          f"${rnd.nextInt(10000)}%04dx${rnd.nextInt(10000)}%04d",
        gender = if (rnd.nextBoolean()) "Female" else "Male",
        dob = LocalDate.parse("1930-01-01").plusDays(rnd.nextInt(80 * 365).toLong),
        address = f"Unit ${rnd.nextInt(10000)}%04d Box ${rnd.nextInt(10000)}%04d, " +
          f"DPO AA ${rnd.nextInt(90000) + 10000}%05d",
        modified = day(rnd.nextInt(dayCount)))
    }

  private def writePatients(path: String, hospital: String, ps: Seq[Patient]): Unit = {
    val csv = new Csv(path)
    if (hospital == "hospital_a")
      csv.row("PatientID", "FirstName", "LastName", "MiddleName", "SSN",
        "PhoneNumber", "Gender", "DOB", "Address", "ModifiedDate")
    else
      csv.row("ID", "F_Name", "L_Name", "M_Name", "SSN", "PhoneNumber",
        "Gender", "DOB", "Address", "Updated_Date")
    ps.foreach(p => csv.row(p.id, p.first, p.last, p.middle, p.ssn, p.phone,
      p.gender, p.dob, p.address, p.modified))
    csv.close()
  }

  private def hospitalSeed(seed: Long, hospital: String): Long =
    seed * 1000003L + hospitals.indexOf(hospital)

  /** Writes day 1 under `root`: `<hospital>/{departments,encounters,
    * patients,providers,transactions}.csv` and
    * `claims/<hospital>_claim_data.csv`. */
  def writeDay1(root: String, seed: Long, scale: Double): Truth = {
    val nPatients = patientsPerHospital(scale)
    val nRows = rowsPerHospital(scale)
    val codes = mutable.BitSet()
    val dates = mutable.BitSet()
    var orphans, nullClaims = 0L
    var claimSum, paidSum = 0.0
    for (h <- hospitals) {
      val rnd = new java.util.SplittableRandom(hospitalSeed(seed, h))
      val dir = hospitalDir(root, h)
      writePatients(s"$dir/patients.csv", h, patients(rnd, h, nPatients))

      val deps = new Csv(s"$dir/departments.csv")
      deps.row("DeptID", "Name")
      (1 to departmentsPerHospital).foreach(d => deps.row(f"DEPT$d%03d", s"Department $d"))
      deps.close()

      val hp = if (h == "hospital_a") "H1" else "H2"
      val provs = new Csv(s"$dir/providers.csv")
      provs.row("ProviderID", "FirstName", "LastName", "Specialization", "DeptID", "NPI")
      (1 to providersPerHospital(h)).foreach { p =>
        provs.row(f"$hp-PROV$p%04d", firstNames(rnd.nextInt(firstNames.size)),
          lastNames(rnd.nextInt(lastNames.size)),
          specializations(rnd.nextInt(specializations.size)),
          f"DEPT${rnd.nextInt(departmentsPerHospital) + 1}%03d",
          1000000000L + rnd.nextInt(900000000))
      }
      provs.close()

      // a patient reference: 0.25% point at ids no patient holds
      def patientRef(): (String, Boolean) =
        if (rnd.nextInt(400) == 0) (f"HOSP1-${900000 + rnd.nextInt(90000)}%06d", true)
        else (f"HOSP1-${rnd.nextInt(nPatients) + 1}%06d", false)

      val encs = new Csv(s"$dir/encounters.csv")
      encs.row("EncounterID", "PatientID", "EncounterDate", "EncounterType",
        "ProviderID", "DepartmentID", "ProcedureCode", "InsertedDate", "ModifiedDate")
      (1 to nRows).foreach { e =>
        val d = rnd.nextInt(dayCount)
        dates += d
        encs.row(f"ENC$e%06d", patientRef()._1, day(d),
          if (rnd.nextBoolean()) "Inpatient" else "Outpatient",
          f"PROV${rnd.nextInt(providersPerHospital(h)) + 1}%04d",
          f"DEPT${rnd.nextInt(departmentsPerHospital) + 1}%03d",
          10000 + rnd.nextInt(1000), day(d), day(math.min(dayCount - 1, d + rnd.nextInt(30))))
      }
      encs.close()

      val trans = new Csv(s"$dir/transactions.csv")
      trans.row("TransactionID", "EncounterID", "PatientID", "ProviderID", "DeptID",
        "VisitDate", "ServiceDate", "PaidDate", "VisitType", "Amount", "AmountType",
        "PaidAmount", "ClaimID", "PayorID", "ProcedureCode", "ICDCode",
        "LineOfBusiness", "MedicaidID", "MedicareID", "InsertDate", "ModifiedDate")
      val claims = new Csv(claimsFile(root, h))
      claims.row("ClaimID", "TransactionID", "PatientID", "EncounterID", "ProviderID",
        "DeptID", "ServiceDate", "ClaimDate", "PayorID", "ClaimAmount", "PaidAmount",
        "ClaimStatus", "PayorType", "Deductible", "Coinsurance", "Copay",
        "InsertDate", "ModifiedDate")
      (1 to nRows).foreach { t =>
        val tid = f"TRANS$t%06d"
        val (pid, orphan) = patientRef()
        val d = rnd.nextInt(dayCount)
        val code = 10000 + rnd.nextInt(1000)
        val billed = amount(1000L + rnd.nextInt(500000))
        val paid = amount((billed * 100 * rnd.nextInt(101) / 100).toLong)
        val prov = f"PROV${rnd.nextInt(providersPerHospital(h)) + 1}%04d"
        val dept = f"DEPT${rnd.nextInt(departmentsPerHospital) + 1}%03d"
        val enc = f"ENC${rnd.nextInt(nRows) + 1}%06d"
        dates += d; codes += code
        if (orphan) orphans += 1
        trans.row(tid, enc, pid, prov, dept, day(d), day(d),
          day(math.min(dayCount - 1, d + rnd.nextInt(60))), "Visit", billed, "Billed",
          paid, f"CLM$t%06d", f"PAYOR${rnd.nextInt(20)}%02d", code,
          f"I${rnd.nextInt(100)}%02d", "Commercial", "", "", day(d), day(d))
        // one claim per transaction; 0.5% bill nothing (ClaimAmount = 0)
        val claimAmt = if (rnd.nextInt(200) == 0) 0.0 else billed
        val claimPaid = if (claimAmt == 0.0) 0.0 else paid
        if (orphan) nullClaims += 1
        claimSum += claimAmt; paidSum += claimPaid
        // the modified date usually precedes the service date, so
        // days_to_payment is mostly negative, as in the reference
        val modified = math.max(0, d - rnd.nextInt(90) + 10)
        claims.row(f"CLM$t%06d", tid, pid, enc, prov, dept, day(d),
          day(math.min(dayCount - 1, d + rnd.nextInt(30))), f"PAYOR${rnd.nextInt(20)}%02d",
          claimAmt, claimPaid, claimStatuses(rnd.nextInt(claimStatuses.size)),
          payorTypes(rnd.nextInt(payorTypes.size)), amount(rnd.nextInt(50000)),
          amount(rnd.nextInt(20000)), amount(rnd.nextInt(5000)), day(d), day(modified))
      }
      trans.close(); claims.close()
    }
    val nh = hospitals.size.toLong
    Truth(patients = nh * nPatients,
      providers = providersPerHospital.values.sum.toLong,
      departments = nh * departmentsPerHospital, encounters = nh * nRows,
      transactions = nh * nRows, claims = nh * nRows, procedureCodes = codes.size.toLong,
      dates = dates.size.toLong, orphanTransactions = orphans,
      nullPatientClaims = nullClaims, claimAmountSum = claimSum, paidAmountSum = paidSum,
      csvBytes = dirBytes(new File(root)))
  }

  /** Writes day 2 under `root2`: day 1's tables unchanged except the
    * patients, of whom 5% change a tracked attribute (Address or
    * LastName), 1% change only an untracked one (FirstName) and 2% are
    * new ids. The patients are regenerated from the same seed, so
    * `writeDay1(root1, seed, scale)` must have produced `root1`. */
  def writeDay2(root1: String, root2: String, seed: Long, scale: Double): Day2Truth = {
    val n = patientsPerHospital(scale)
    val (nTracked, nUntracked, nNew) = day2Counts(n)
    for (h <- hospitals) {
      val rnd = new java.util.SplittableRandom(hospitalSeed(seed, h))
      val base = patients(rnd, h, n)
      val pick = new java.util.SplittableRandom(hospitalSeed(seed, h) ^ 0x5eed2L)
      val order = shuffled(n, pick)
      val changed = base.toArray
      order.take(nTracked).zipWithIndex.foreach { case (i, k) =>
        val p = changed(i)
        changed(i) =
          if (k % 2 == 0) p.copy(address = p.address + " Apt 2")
          else p.copy(last = lastNames((lastNames.indexOf(p.last) + 1) % lastNames.size))
      }
      order.slice(nTracked, nTracked + nUntracked).foreach { i =>
        val p = changed(i)
        changed(i) = p.copy(first = firstNames((firstNames.indexOf(p.first) + 1) % firstNames.size))
      }
      val fresh = patients(pick, h, n + nNew).drop(n)
      writePatients(s"${hospitalDir(root2, h)}/patients.csv", h, changed.toSeq ++ fresh)
      for (t <- Seq("departments", "encounters", "providers", "transactions"))
        copy(s"${hospitalDir(root1, h)}/$t.csv", s"${hospitalDir(root2, h)}/$t.csv")
      copy(claimsFile(root1, h), claimsFile(root2, h))
    }
    val nh = hospitals.size.toLong
    Day2Truth(nh * nTracked, nh * nUntracked, nh * nNew, dirBytes(new File(root2)))
  }

  /** A seeded Fisher-Yates permutation of `0 until n`. */
  def shuffled(n: Int, rnd: java.util.SplittableRandom): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  private def copy(from: String, to: String): Unit = {
    new File(to).getParentFile.mkdirs()
    Files.copy(new File(from).toPath, new File(to).toPath, StandardCopyOption.REPLACE_EXISTING)
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else f.length()
}
