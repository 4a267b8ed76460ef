package graft.functions

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class ScalarsSpec extends SparkSpecBase {

  // ---- F4: vectors generated with Python difflib/fuzzywuzzy semantics:
  // int(round(100 * 2M / (len(a)+len(b)))) over SequenceMatcher blocks ----
  test("fuzzRatio matches difflib SequenceMatcher ratios") {
    val cases = Seq(
      ("weta digital", "weta digital", 100),
      ("weta digital", "weta workshop", 40),
      ("industrial light & magic", "industrial light and magic", 92),
      ("framestore", "framestore cfc", 83),
      ("double negative", "dneg", 42),
      ("", "", 100),
      ("", "abc", 0),
      ("abc", "", 0),
      ("a", "b", 0),
      ("new york", "york new", 50),
      ("pixar animation studios", "pixar", 36),
      ("the mill", "mill film", 47),
      ("rhythm & hues", "rhythm and hues studios", 67),
      ("abcdefghij" * 25, "abcdefghij" * 25, 100), // >=200 chars: autojunk path
      ("method studios", "method studios vancouver", 74))
    for ((a, b, expected) <- cases)
      assert(Scalars.fuzzRatioRaw(a, b) === expected, s"fuzz_ratio('$a','$b')")
  }

  test("fuzzRatio is symmetric-ish on typical dim strings and bounded") {
    val names = Seq("weta", "weta digital", "wета", "ilm", "framestore", "")
    for (a <- names; b <- names) {
      val r = Scalars.fuzzRatioRaw(a, b)
      assert(r >= 0 && r <= 100)
      if (a == b) assert(r === 100)
    }
  }

  // ---- F1: vectors generated by replaying the reference regex chain
  // (GetWeta.py:370-411) ----
  test("parseNotes reproduces the reference regex chain") {
    val cases = Seq(
      ("visual effects: Weta Digital", "weta", ("visual effects", "weta digital", "weta")),
      ("visual effects supervisor: Weta Digital (as John Smith)", "weta",
        ("visual effects supervisor", "weta digital", "weta")),
      ("digital compositor: Framestore (uncredited)", "", ("digital compositor", "framestore", "")),
      ("senior td: Industrial Light & Magic (32 episodes, 2009-2011)", "",
        ("senior td", "industrial light & magic", "")),
      ("animator: Pixar Animation Studios Inc.", "", ("animator", "pixar animation studios", "")),
      ("roto artist: Double Negative Ltd", "", ("roto artist", "double negative", "")),
      ("modeler: Weta Workshop - Miniatures Unit", "weta", ("modeler", "weta workshop", "weta")),
      ("compositing, digital division: Rising Sun Pictures", "",
        ("compositing, digital division", "rising sun pictures", "")),
      ("special effects technician", "", ("", "", "")),
      ("vfx producer: \"The Mill\"", "", ("vfx producer", "'the mill'", "")),
      ("matchmove artist: MPC (5 episodes)", "", ("matchmove artist", "mpc", "")),
      ("senior artist: miniatures, weta workshop", "",
        ("senior artist, miniatures", "weta workshop", "")),
      ("", "", ("", "", "")),
      (null, "weta", ("", "", "")),
      // '$' and '\\' are in the stripped symbol class
      ("comp$ositor: Weta Digital $2", "weta", ("compositor", "weta digital 2", "weta")),
      ("roto\\artist: Double\\Negative", "", ("rotoartist", "doublenegative", "")))
    for ((notes, tag, (role, company, matched)) <- cases) {
      val p = Scalars.parseNotesRaw(notes, tag)
      assert((p.role, p.company, p.matchedTag) === ((role, company, matched)), s"notes='$notes'")
    }
  }

  // ---- F2: first-match date normalization (GetWeta.py:348-368) ----
  test("parseEarliestDate takes the first parseable entry, zero-padded") {
    assert(Scalars.parseEarliestDateRaw(Seq("(premiere) 3 March 1996")) === "1996-03-03")
    assert(Scalars.parseEarliestDateRaw(Seq("nonsense", "12 December 2001")) === "2001-12-12")
    // first-match, NOT min: a later earlier date is ignored
    assert(Scalars.parseEarliestDateRaw(Seq("5 May 2010", "1 January 1990")) === "2010-05-05")
    assert(Scalars.parseEarliestDateRaw(Seq("not a date")) === "")
    assert(Scalars.parseEarliestDateRaw(Nil) === "")
  }

  // ---- F5/F6: haversine + trip days (locUtils.js) ----
  test("haversine matches known distances and trip-day floors") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((51.5074, -0.1278, 40.7128, -74.0060)).toDF("lat1", "lon1", "lat2", "lon2")
    val km = df.select(Scalars.haversineKm(col("lat1"), col("lon1"), col("lat2"), col("lon2")).as("km"))
      .head.getDouble(0)
    assert(math.abs(km - 5570.0) < 10.0) // London-NYC great circle ~5570 km
    val days = df.select(Scalars.tripLengthDays(
      Scalars.haversineKm(col("lat1"), col("lon1"), col("lat2"), col("lon2"))).as("d"))
      .head.getLong(0)
    assert(days === 55L)
    // min 1 day for zero distance
    val zero = Seq((0.0, 0.0, 0.0, 0.0)).toDF("a", "b", "c", "d")
      .select(Scalars.tripLengthDays(Scalars.haversineKm(col("a"), col("b"), col("c"), col("d"))))
      .head.getLong(0)
    assert(zero === 1L)
  }

  // ---- F10: anti-meridian wraparound (pathCreator.js:178-199) ----
  test("lonDiff picks the short way across the anti-meridian") {
    val spark2 = spark
    import spark2.implicits._
    def d(l1: Double, l2: Double): Double =
      Seq((l1, l2)).toDF("a", "b").select(Scalars.lonDiff(col("a"), col("b"))).head.getDouble(0)
    assert(d(10.0, 20.0) === 10.0)       // plain east
    assert(d(20.0, 10.0) === -10.0)      // plain west
    assert(d(170.0, -170.0) === 20.0)    // cross +180 heading east
    assert(d(-170.0, 170.0) === -20.0)   // cross -180 heading west
    assert(d(-10.0, -20.0) === -10.0)    // both west, no wrap
    assert(d(0.0, 180.0) === 180.0)
  }

  // ---- F3/F12/F16: padding, geo parse, sentinels ----
  test("zero-pad, geo parse, sentinel tags") {
    val spark2 = spark
    import spark2.implicits._
    val row = Seq((7, "12.5,-33.25", "vfx")).toDF("n", "geo", "s")
      .select(
        Scalars.zeroPad2(col("n")).as("p"),
        Scalars.parseGeo(col("geo")).getField("lat").as("lat"),
        Scalars.parseGeo(col("geo")).getField("lon").as("lon"),
        Scalars.sentinelRole(col("s")).as("r"),
        Scalars.sentinelBadData(col("s")).as("b"))
      .head
    assert(row.getString(0) === "07")
    assert(row.getDouble(1) === 12.5)
    assert(row.getDouble(2) === -33.25)
    assert(row.getString(3) === "zzz_role:vfx")
    assert(row.getString(4) === "zzz_baddata:vfx")
  }

  // ---- F11/F15: scrub + suffix strip ----
  test("blacklist scrub and company suffix strip") {
    val spark2 = spark
    import spark2.implicits._
    val out = Seq(("The GREEN Blue Company ltd.", "")).toDF("s", "x")
      .select(
        Scalars.scrubTokens(col("s"), Seq("green", "blue")).as("scrubbed"),
        Scalars.stripCompanySuffix(lower(col("s"))).as("stripped"))
      .head
    assert(out.getString(0) === "the   company ltd.")
    assert(out.getString(1) === "the green blue company")
  }
}
