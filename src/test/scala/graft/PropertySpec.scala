package graft

import graft.functions.Scalars
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Property-based invariants (SURVEY §5 test plan item 2). Pure-JVM
  * properties — the distributed variants are covered by the module specs. */
object PropertySpec extends Properties("graft") {

  private val word: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)

  property("fuzzRatio bounded and reflexive") = forAll(word, word) { (a, b) =>
    val r = Scalars.fuzzRatioRaw(a, b)
    r >= 0 && r <= 100 && Scalars.fuzzRatioRaw(a, a) == 100
  }

  // difflib's ratio is NOT symmetric (b2j/extension phases are b-relative);
  // a faithful port must reproduce the asymmetry. Vectors from CPython
  // difflib: ratio(a,b) vs ratio(b,a).
  property("fuzzRatio reproduces difflib's asymmetry") = Prop {
    Scalars.fuzzRatioRaw("baba", "abbba") == 44 &&
    Scalars.fuzzRatioRaw("abbba", "baba") == 67 &&
    Scalars.fuzzRatioRaw("abaab", "aaaaba") == 55 &&
    Scalars.fuzzRatioRaw("aaaaba", "abaab") == 73 &&
    Scalars.fuzzRatioRaw("abab", "baaaab") == 40 &&
    Scalars.fuzzRatioRaw("baaaab", "abab") == 60
  }

  private val dateGen = for {
    y <- Gen.choose(1950, 2030); m <- Gen.choose(1, 12); d <- Gen.choose(1, 28)
  } yield (y, m, d)

  property("padded dates: lexicographic == chronological (SURVEY §7.3.1)") =
    forAll(dateGen, dateGen) { (a, b) =>
      def pad(t: (Int, Int, Int)) = f"${t._1}%04d-${t._2}%02d-${t._3}%02d"
      val lex = math.signum(pad(a).compare(pad(b)))
      val chron = math.signum(implicitly[Ordering[(Int, Int, Int)]].compare(a, b))
      lex == chron
    }

  private val dateEntry = Gen.oneOf(
    Gen.const("garbage"),
    for { d <- Gen.choose(1, 28); y <- Gen.choose(1900, 2100) } yield s"$d March $y",
    for { d <- Gen.choose(1, 28); y <- Gen.choose(1900, 2100) } yield s"(x) $d January $y")

  property("parseEarliestDate: empty or zero-padded ISO") =
    forAll(Gen.listOf(dateEntry)) { dates =>
      val out = Scalars.parseEarliestDateRaw(dates)
      out.isEmpty || out.matches("""\d{4}-\d{2}-\d{2}""")
    }

  property("notes parser total + trimmed") = forAll { (notes: String, tag: String) =>
    val p = Scalars.parseNotesRaw(notes, if (tag == null) "" else tag)
    p.role == p.role.trim && p.company == p.company.trim
  }

  property("lonDiff endpoint reachable: lon1 + diff ≡ lon2 (mod 360)") = {
    val lon = Gen.choose(-180.0, 180.0)
    forAll(lon, lon) { (l1, l2) =>
      // evaluate the same formula the Column version encodes
      val firstWrap = if (l1 > 0) l1 - 180 else l1 + 180
      val within = l2 >= math.min(l1, firstWrap) && l2 <= math.max(l1, firstWrap)
      val sameE = l1 >= 0 && l2 >= 0 && l1 <= 180 && l2 <= 180
      val sameW = l1 <= 0 && l2 <= 0 && l1 >= -180 && l2 >= -180
      val d =
        if (within || sameE || sameW) l2 - l1
        else {
          val orient = if (l1 >= 0) 1.0 else -1.0
          orient * (math.abs(180 - math.max(l1, l2)) + math.abs(-180 - math.min(l1, l2)))
        }
      val end = ((l1 + d) % 360 + 540) % 360 - 180 // normalize to (-180, 180]
      val tgt = ((l2) % 360 + 540) % 360 - 180
      math.abs(end - tgt) < 1e-6 || math.abs(math.abs(end - tgt) - 360) < 1e-6
    }
  }

  // --- fused portable kernels vs an independent hex-string reference ---
  // The kernels read the md5 prefix straight off the digest bytes; the
  // reference below goes through the HEX STRING and Long.parseLong —
  // a genuinely different code path for the same definition. (Equality
  // with the Spark Column algebra is pinned in MinHashExprSpec; this
  // property pins the digest-byte bit-trick on arbitrary unicode.)
  import org.apache.spark.unsafe.types.UTF8String

  private val textGen: Gen[String] = Gen.listOf(Gen.frequency(
    8 -> Gen.alphaNumChar, 3 -> Gen.const(' '),
    1 -> Gen.oneOf('é', 'Ü', 'ß', '☃', '中', '—'))).map(_.mkString)

  private def md5Hex(s: UTF8String): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  private val P = 268435399L

  property("PortableMinHash kernel == hex-string reference") =
    forAll(textGen) { text =>
      val t = UTF8String.fromString(text).toLowerCase
      val windows = math.max(t.numChars() - 4, 1)
      val mins = Array.fill(8)(Long.MaxValue)
      for (i <- 1 to windows) {
        val h = java.lang.Long.parseLong(md5Hex(t.substringSQL(i, 5)).substring(0, 7), 16)
        for (s <- 0 until 8) {
          val a = (2L * s + 3) * 12582917L % P
          val b = (s + 1) * 15485863L % P
          val v = (h * a + b) % P
          if (v < mins(s)) mins(s) = v
        }
      }
      val kernel = graft.functions.MinHashKernel
        .portableSignature(UTF8String.fromString(text), 5, 8)
      (0 until 8).forall(i => kernel.getLong(i) == mins(i))
    }

  property("PortableSimHash kernel == hex-string reference") =
    forAll(textGen) { text =>
      val toks = UTF8String.fromString(text).toLowerCase.toString.split(" ", -1)
      val votes = Array.fill(60)(0)
      toks.foreach { tok =>
        val h = java.lang.Long.parseLong(
          md5Hex(UTF8String.fromString(tok)).substring(0, 15), 16)
        for (i <- 0 until 60) votes(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1)
      }
      val ref = (0 until 60).map(i => if (votes(i) > 0) 1L << i else 0L).sum
      graft.functions.MinHashKernel.portableSimhash(UTF8String.fromString(text)) == ref
    }

  // CDC chunking must PARTITION any text: chunks contiguous from 1,
  // covering every character exactly once, each at least 1 char — for
  // arbitrary unicode content and any window/mask parameters.
  private val anyText: Gen[String] = Gen.oneOf(
    Gen.listOf(Gen.alphaNumChar).map(_.mkString),
    Gen.listOf(Gen.oneOf('a', 'b', ' ', 'é', '☃', '字')).map(_.mkString))

  property("CDC chunks partition arbitrary text exactly") =
    forAll(anyText, Gen.choose(2, 20), Gen.choose(1, 8)) { (text, w, maskBits) =>
      val t = UTF8String.fromString(text)
      val arr = graft.functions.CdcKernel.chunks(t, w, maskBits)
      val n = t.numChars()
      if (n == 0) arr.numElements() == 0
      else {
        val rows = (0 until arr.numElements()).map { i =>
          val r = arr.getStruct(i, 3); (r.getInt(0), r.getInt(1))
        }
        rows.head._1 == 1 &&
        rows.forall(_._2 >= 1) &&
        rows.map(_._2).sum == n &&
        rows.sliding(2).forall {
          case Seq((s1, l1), (s2, _)) => s2 == s1 + l1
          case _ => true
        }
      }
    }

  // Hamilton quota allocation: Σ quota == budget exactly, and every
  // quota stays within 1 of its exact proportional share (the two
  // defining invariants of largest-remainder rounding). Driven through
  // the real Spark operator on the specs' shared session (SparkSpecBase).
  property("quotaAllocate: exact budget, within-1 proportionality") = {
    val spark = graft.SparkSpecBase.session
    import spark.implicits._
    val weights = Gen.nonEmptyListOf(Gen.choose(1L, 1000L)).map(_.take(8))
    forAll(weights, Gen.choose(1, 50)) { (ws, budget) =>
      val docs = ws.zipWithIndex.map { case (w, i) => (i.toLong, s"s$i", w) }
        .toDF("doc_id", "source", "n_chars")
      val rows = graft.llm.Curation
        .quotaAllocate(docs, "doc_id", "source", org.apache.spark.sql.functions.col("n_chars"), budget)
        .collect().map(r => (r.getLong(1), r.getLong(3)))
      val tot = ws.sum.toDouble
      rows.map(_._2).sum == budget.toLong &&
      rows.forall { case (w, q) =>
        val exact = budget * w / tot
        q >= math.floor(exact) - 0.5 && q <= math.ceil(exact) + 0.5
      }
    }
  }
  // The GeoJoin recall lemma (operators/GeoJoin.scala): with the ring
  // sized FLOOR(360/cellDeg) every cell is ≥ cellDeg wide, so two
  // longitudes within one required cell width of each other — including
  // across ±180° — sit at most ONE ring index apart, which is exactly
  // what the 3×3 probe needs. (A ceil-sized ring leaves a narrower last
  // cell and this property FAILS across it — the bug the round-8 spec
  // caught.)
  property("geo ring cells: wrapped-close lon pairs are ring-adjacent") =
    forAll(Gen.choose(1.0, 5000.0), Gen.choose(-180.0, 180.0),
           Gen.choose(-1.0, 1.0)) { (radiusKm, lon1, frac) =>
      val lonCellDeg = radiusKm / (111.0 * 0.5)
      val ringSize = math.floor(360.0 / lonCellDeg).toLong
      val ringCellDeg = 360.0 / ringSize
      def norm(l: Double) = ((l + 540.0) % 360.0) - 180.0
      def cell(l: Double) = math.floor((norm(l) + 180.0) / ringCellDeg).toLong
      val lon2 = lon1 + frac * lonCellDeg
      val d = math.abs(cell(lon1) - cell(lon2))
      ringSize < 3 || math.min(d, ringSize - d) <= 1
    }
}
