package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Scalar library (SURVEY.md §2.8, F1–F16).
  *
  * Everything that CAN be a built-in `Column` combinator IS one — those stay
  * inside whole-stage codegen. Only two semantics genuinely need Scala UDFs:
  * the difflib-style fuzz ratio (F4) and the credit-notes parser (F1), both
  * ported behaviourally from the reference (see Scaladoc per function).
  */
object Scalars {

  // ---------------------------------------------------------------------------
  // F4 — difflib SequenceMatcher ratio (reference: GetWeta.py:236-237, vendored
  // fuzzywuzzy). fuzz.ratio(a,b) = int(round(100 * 2*M / (len(a)+len(b)))) where
  // M is the total size of difflib's matching blocks. NOT levenshtein — difflib
  // recursively finds longest matching blocks. Autojunk ("popular" chars in
  // sequences >= 200 elements) reproduced for fidelity with difflib defaults.
  // ---------------------------------------------------------------------------
  def fuzzRatioRaw(a: String, b: String): Int = {
    val sa = if (a == null) "" else a
    val sb = if (b == null) "" else b
    val total = sa.length + sb.length
    if (total == 0) return 100
    // identical strings: one full-length matching block, ratio exactly
    // 2n/2n = 100 — skip the matcher. Not an approximation: difflib's
    // first find_longest_match returns the whole string. This is the hot
    // path for every UNMAPPED credit row, where the normalize pipeline
    // compares companySearch against its own coalesced fallback.
    if (sa == sb) return 100
    val m = matchingBlocksTotal(sa, sb)
    math.round(100.0 * 2.0 * m / total).toInt
  }

  /** Sum of matching-block sizes per difflib.get_matching_blocks. */
  private def matchingBlocksTotal(a: String, b: String): Int = {
    // b2j with autojunk: chars occurring > 1% of b when len(b) >= 200 dropped.
    val b2j = mutable.HashMap.empty[Char, mutable.ArrayBuffer[Int]]
    var j = 0
    while (j < b.length) {
      b2j.getOrElseUpdate(b.charAt(j), mutable.ArrayBuffer.empty[Int]) += j
      j += 1
    }
    if (b.length >= 200) {
      val ntest = b.length / 100 + 1
      b2j.filterInPlace((_, idxs) => idxs.length <= ntest)
    }

    // j2len as flat int arrays, +1-offset so index jj reads the run
    // ending at jj-1 without a branch — same recurrence as difflib's
    // dict (j2len[j] = j2len[j-1] + 1), none of the per-(i,j) HashMap
    // boxing that dominated the profile on short company names
    val j2lenA = new Array[Int](b.length + 1)
    val j2lenB = new Array[Int](b.length + 1)
    def findLongestMatch(alo: Int, ahi: Int, blo: Int, bhi: Int): (Int, Int, Int) = {
      var besti = alo; var bestj = blo; var bestsize = 0
      var j2len = j2lenA
      var newj2len = j2lenB
      // only indices [blo, bhi] are ever read (jj) or written (jj+1) in
      // this window — a full-array fill would charge O(|b|) per row of a
      // to every recursive subrange
      java.util.Arrays.fill(j2len, blo, bhi + 1, 0)
      var i = alo
      while (i < ahi) {
        java.util.Arrays.fill(newj2len, blo, bhi + 1, 0)
        b2j.get(a.charAt(i)) match {
          case Some(idxs) =>
            var p = 0
            var done = false
            while (p < idxs.length && !done) {
              val jj = idxs(p)
              if (jj >= blo) {
                if (jj >= bhi) done = true
                else {
                  val k = j2len(jj) + 1
                  newj2len(jj + 1) = k
                  if (k > bestsize) { besti = i - k + 1; bestj = jj - k + 1; bestsize = k }
                }
              }
              p += 1
            }
          case None =>
        }
        val tmp = j2len; j2len = newj2len; newj2len = tmp
        i += 1
      }
      // difflib's extension phases: autojunk-popular chars are dropped from
      // b2j but are NOT junk, so the best block extends through them at both
      // ends (difflib.find_longest_match; we pass no isjunk, so bjunk = ∅
      // and the junk-extension loops are no-ops).
      while (besti > alo && bestj > blo && a.charAt(besti - 1) == b.charAt(bestj - 1)) {
        besti -= 1; bestj -= 1; bestsize += 1
      }
      while (besti + bestsize < ahi && bestj + bestsize < bhi &&
             a.charAt(besti + bestsize) == b.charAt(bestj + bestsize)) {
        bestsize += 1
      }
      (besti, bestj, bestsize)
    }

    var totalM = 0
    val queue = mutable.Stack[(Int, Int, Int, Int)]((0, a.length, 0, b.length))
    while (queue.nonEmpty) {
      val (alo, ahi, blo, bhi) = queue.pop()
      val (i, jm, k) = findLongestMatch(alo, ahi, blo, bhi)
      if (k > 0) {
        totalM += k
        queue.push((alo, i, blo, jm))
        queue.push((i + k, ahi, jm + k, bhi))
      }
    }
    totalM
  }

  // ---------------------------------------------------------------------------
  // F1 — credit-notes parser. Behavioural port of the regex chain at
  // GetWeta.py:370-411 (ParseCompanyFromPersonNotes): lowercase, strip symbols,
  // quote fold, drop episode lists / "uncredited" / "as <alias>" suffixes /
  // company-type suffixes, split role:company on ':', division comma form.
  // ---------------------------------------------------------------------------
  final case class ParsedNote(role: String, company: String, matchedTag: String)

  // the chain's patterns, compiled once: String.replaceAll and a
  // multi-character String.split recompile their regex on every call
  private val noteSymbols = Pattern.compile("""[!@#*$()\\\[\]]""")
  private val noteEpisodes = Pattern.compile("""(\w+)\s(\bepisodes),?(\s\w+)?(-\w+)?""")
  private val noteAlias = Pattern.compile("""\suncredited|\sas\s.*$""")
  private val noteCompanyType = Pattern.compile("""(?:\sltd|\sinc)\.|(?:\sltd|\sinc)""")
  private val noteUnitSep = Pattern.compile(" - ")

  def parseNotesRaw(notes: String, companyTag: String): ParsedNote = {
    if (notes == null) return ParsedNote("", "", "")
    var filtered = noteSymbols.matcher(notes).replaceAll("").toLowerCase
    filtered = filtered.replace("\"", "'")
    filtered = noteEpisodes.matcher(filtered).replaceAll("")
    filtered = noteAlias.matcher(filtered).replaceAll("")
    filtered = noteCompanyType.matcher(filtered).replaceAll("")
    filtered = filtered.trim

    val splitRole = filtered.split(":", -1)
    var role = ""
    var comp = ""
    var matchedTag = ""
    if (splitRole.length > 1) {
      role = splitRole(0).trim
      comp = splitRole(1).trim
      val splitComp = noteUnitSep.split(comp, -1)
      if (companyTag.nonEmpty && comp.contains(companyTag)) matchedTag = companyTag
      val division = splitComp(0).split(",", -1)
      if (division.length > 1) {
        role = role + ", " + division(0).trim
        comp = division(1)
      } else comp = division(0)
    }
    ParsedNote(role.trim, comp.trim, matchedTag)
  }

  /** Register the two UDFs on a session; returns nothing (idempotent). */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("fuzz_ratio", (a: String, b: String) => fuzzRatioRaw(a, b))
    spark.udf.register("parse_notes", (n: String, t: String) => parseNotesRaw(n, if (t == null) "" else t))
  }

  def fuzzRatio(a: Column, b: Column): Column =
    udf((x: String, y: String) => fuzzRatioRaw(x, y)).apply(a, b)

  def parseNotes(notes: Column, tag: Column): Column =
    udf((n: String, t: String) => parseNotesRaw(n, if (t == null) "" else t)).apply(notes, tag)

  // ---------------------------------------------------------------------------
  // F5 — haversine distance (km). Column math, stays in codegen.
  // Reference formula: locUtils.js:2-16 (R=6371, atan2 form).
  // ---------------------------------------------------------------------------
  def haversineKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val dLat = radians(lat2 - lat1)
    val dLon = radians(lon2 - lon1)
    val a = pow(sin(dLat / 2), 2) + cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon / 2), 2)
    lit(6371.0) * lit(2.0) * atan2(sqrt(a), sqrt(lit(1.0) - a))
  }

  /** F6 — trip length in days: max(1, floor(km/100)) (locUtils.js:18-23). */
  def tripLengthDays(km: Column): Column =
    greatest(lit(1L), floor(km / 100).cast("long"))

  /** F7 — days → epoch milliseconds (dwwApi.js:227-229). */
  def daysToMs(days: Column): Column = days.cast("long") * lit(86400000L)

  /** F3 — zero-pad a date component (GetWeta.py:362-365). */
  def zeroPad2(c: Column): Column = lpad(c.cast("string"), 2, "0")

  // ---------------------------------------------------------------------------
  // F10 — longitude wraparound difference (pathCreator.js:178-199): least
  // signed delta, crossing the anti-meridian when shorter.
  // ---------------------------------------------------------------------------
  def lonDiff(lon1: Column, lon2: Column): Column = {
    val firstWrap = when(lon1 > 0, lon1 - 180).otherwise(lon1 + 180)
    val within = lon2 >= least(lon1, firstWrap) && lon2 <= greatest(lon1, firstWrap)
    val sameSignE = lon1 >= 0 && lon2 >= 0 && lon1 <= 180 && lon2 <= 180
    val sameSignW = lon1 <= 0 && lon2 <= 0 && lon1 >= -180 && lon2 >= -180
    val orientation = when(lon1 >= 0, lit(1.0)).otherwise(lit(-1.0))
    val secondWrap = abs(lit(180.0) - greatest(lon1, lon2)) + abs(lit(-180.0) - least(lon1, lon2))
    when(within || sameSignE || sameSignW, lon2 - lon1).otherwise(orientation * secondWrap)
  }

  /** F9 — linear time interpolation in epoch millis (pathCreator.js:148-160).
    * floor-division on exact integers (products stay < 2^53, so the double
    * intermediate is exact) — result is deterministic and oracle-reproducible. */
  def interpMillis(startMs: Column, endMs: Column, step: Column, maxStep: Int): Column =
    startMs + floor(((endMs - startMs) * step) / lit(maxStep.toDouble)).cast("long")

  /** F12 — `"lat,lon"` comma-string → struct<lat,lon> (locUtils.js:25-30). */
  def parseGeo(s: Column): Column = struct(
    element_at(split(s, ","), 1).cast("double").as("lat"),
    element_at(split(s, ","), 2).cast("double").as("lon"))

  /** F11 — blacklist token scrub: lowercase then remove every token
    * (dwwFront.js:155-176). */
  def scrubTokens(c: Column, tokens: Seq[String]): Column =
    tokens.foldLeft(lower(c))((acc, t) => regexp_replace(acc, java.util.regex.Pattern.quote(t), ""))

  /** F15 — company-type suffix strip (the ltd/inc regex of F1, GetWeta.py:381). */
  def stripCompanySuffix(c: Column): Column =
    regexp_replace(c, """(?:\sltd|\sinc)\.|(?:\sltd|\sinc)""", "")

  /** F16 — sentinel tagging (dwwFront.js:365-369). */
  def sentinelRole(c: Column): Column    = concat(lit("zzz_role:"), c)
  def sentinelBadData(c: Column): Column = concat(lit("zzz_baddata:"), c)

  /** F14 — log-base-3 scaling (uiElements.js:423-426). */
  def logBase3(c: Column): Column = log(3.0, c)

  // ---------------------------------------------------------------------------
  // F2 — earliest-date normalizer (GetWeta.py:348-368): first list entry of the
  // form "(tag) D Month YYYY" → zero-padded "YYYY-MM-DD"; first-match, not min.
  // ---------------------------------------------------------------------------
  private val monthNames = Array("", "january", "february", "march", "april", "may", "june",
    "july", "august", "september", "october", "november", "december")

  private val dateTagOrPrefix = Pattern.compile("""\([^)]+\)|^[^::]*::""")

  def parseEarliestDateRaw(dates: Seq[String]): String = {
    if (dates == null) return ""
    dates.foreach { date =>
      if (date != null) {
        val clean = dateTagOrPrefix.matcher(date).replaceAll("").trim
        val parts = clean.split(" ")
        if (parts.length == 3) {
          val monthIdx = monthNames.indexWhere(_.equalsIgnoreCase(parts(1)))
          if (monthIdx > 0) {
            val pad = (s: String) => if (s.length < 2) "0" + s else s
            return pad(parts(2)) + "-" + pad(monthIdx.toString) + "-" + pad(parts(0))
          }
        }
      }
    }
    ""
  }

  def parseEarliestDate(dates: Column): Column =
    udf((d: Seq[String]) => parseEarliestDateRaw(d)).apply(dates)
}
