package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded input generators. Every generator takes the seed as an argument
  * and is a pure function of it: the same seed writes byte-identical files
  * and yields identical key streams (GenSpec pins both directions).
  */
object Gen {

  /** Tallies `Cli.process` must report on [[obis]]'s output, known from
    * the way the records were generated.
    */
  final case class ObisTruth(staged: Long, validated: Long, errorRows: Long,
      repaired: Long, unrepairable: Long, cleaned: Long)

  /** The README run's species (the reference's one published timing). */
  val Whale = "beluga_whale"
  private val Scientific = "Delphinapterus leucas"
  private val SpeciesId = 137115L

  /** Stage `files` OBIS `/occurrence` response bodies of `perFile` records
    * each under `dir/<whale>/`, named `start--end.json` like the
    * reference's fetch stage.
    *
    * Shape of the data, after the reference's README run (5,222 records,
    * 1,170 repeated (date, lat, lon) triples, 6 bad dates):
    *   - about 22% of records repeat an earlier record's triple exactly;
    *   - about 0.2% carry a bad eventDate: half are a `start/end` range
    *     that only the repair step parses, half an impossible date that
    *     nothing repairs;
    *   - one record in 870 has a null occurrenceID.
    * Bad-date records never repeat a triple and are never repeated, so
    * the cleaned count is exact: good records minus repeats plus repaired.
    */
  def obis(seed: Long, dir: Path, files: Int, perFile: Int): ObisTruth = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val out = dir.resolve(Whale)
    Files.createDirectories(out)
    val seen = new java.util.ArrayList[(String, String, String)]()
    val used = scala.collection.mutable.HashSet[(String, String)]()
    var (validated, errors, repaired, unrepairable, dups) = (0L, 0L, 0L, 0L, 0L)
    var n = 0L
    for (f <- 0 until files) {
      val (y0, y1) = (1932 + 3 * f, 1934 + 3 * f)
      val sb = new java.lang.StringBuilder(perFile * 420)
      sb.append("{\"total\":").append(perFile).append(",\"results\":[")
      for (i <- 0 until perFile) {
        n += 1
        val u = rnd.nextDouble()
        val (date, lat, lon) =
          if (u < 0.002) {
            errors += 1
            val y = y0 + rnd.nextInt(3)
            val d =
              if (u < 0.001) {
                repaired += 1
                f"$y%04d-0${1 + rnd.nextInt(4)}-1${rnd.nextInt(9)}/$y%04d-0${5 + rnd.nextInt(4)}-2${rnd.nextInt(9)}"
              } else {
                unrepairable += 1
                f"$y%04d-${13 + rnd.nextInt(6)}%02d-${32 + rnd.nextInt(8)}%02d"
              }
            val t = freshTriple(rnd, used, d)
            (d, t._2, t._3)
          } else if (u < 0.222 && !seen.isEmpty) {
            validated += 1
            dups += 1
            seen.get(rnd.nextInt(seen.size))
          } else {
            validated += 1
            val y = y0 + rnd.nextInt(3)
            val d = if (rnd.nextInt(4) == 0)
              f"$y%04d-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02dT${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:00Z"
            else f"$y%04d-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d"
            val t = freshTriple(rnd, used, d)
            seen.add(t)
            t
          }
        val id =
          if (rnd.nextInt(870) == 0) "null"
          else s"\"urn:catalog:obis:${seed}:$n\""
        if (i > 0) sb.append(',')
        sb.append("{\"occurrenceID\":").append(id)
          .append(",\"eventDate\":\"").append(date)
          .append("\",\"verbatimEventDate\":\"").append(date)
          .append("\",\"decimalLatitude\":").append(lat)
          .append(",\"decimalLongitude\":").append(lon)
          .append(",\"waterBody\":\"").append(if (rnd.nextBoolean()) "Unknown" else "Ocean")
          .append("\",\"species\":\"").append(Scientific)
          .append("\",\"speciesid\":").append(SpeciesId)
          .append(",\"vernacularName\":null")
          .append(",\"individualCount\":").append(if (rnd.nextInt(5) == 0) "null" else (1 + rnd.nextInt(20)).toString)
          .append(",\"basisOfRecord\":\"HumanObservation\"")
          .append(",\"bibliographicCitation\":\"survey ").append(rnd.nextInt(500))
          .append("\",\"dataset_id\":\"ds").append(rnd.nextInt(40)).append("\"}")
      }
      sb.append("]}")
      Files.write(out.resolve(f"$y0%04d-01-01--$y1%04d-12-31.json"),
        sb.toString.getBytes(UTF_8))
    }
    ObisTruth(staged = n, validated = validated, errorRows = errors,
      repaired = repaired, unrepairable = unrepairable,
      cleaned = validated - dups + repaired)
  }

  /** A (date, lat, lon) triple whose coordinates no earlier record used. */
  private def freshTriple(rnd: SplittableRandom,
      used: scala.collection.mutable.HashSet[(String, String)],
      date: String): (String, String, String) = {
    var c: (String, String) = null
    while (c == null || used(c))
      c = (fixed(rnd.nextDouble() * 170 - 85, 5), fixed(rnd.nextDouble() * 350 - 175, 5))
    used += c
    (date, c._1, c._2)
  }

  /** `x` with `places` decimals, independent of the default locale. */
  private def fixed(x: Double, places: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${places}f", Double.box(x))

  val OceanNames: Seq[String] = Seq("Arctic Ocean", "North Atlantic Ocean",
    "North Pacific Ocean", "South Atlantic Ocean", "South Pacific Ocean",
    "Indian Ocean", "Southern Ocean", "South China and Easter Archipelagic Seas",
    "Mediterranean Region")

  /** `name<TAB>POLYGON((...))` lines: one star-shaped ring of `vertices`
    * points per ocean, each inside its own cell of a 3×3 lon/lat grid,
    * so no point lies in two polygons and about half lie in none.
    */
  def polygons(seed: Long, path: Path, vertices: Int): Unit = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 2)
    val lines = OceanNames.zipWithIndex.map { case (name, k) =>
      val (cx, cy) = (-120.0 + 120.0 * (k % 3), -60.0 + 60.0 * (k / 3))
      val pts = (0 until vertices).map { v =>
        val a = 2 * math.Pi * v / vertices
        val r = 0.55 + 0.4 * rnd.nextDouble()
        s"${fixed(cx + 60 * r * math.cos(a), 6)} ${fixed(cy + 30 * r * math.sin(a), 6)}"
      }
      s"$name\tPOLYGON((${(pts :+ pts.head).mkString(", ")}))"
    }
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  /** The key stream of `table_commits`: for each cycle, the keys merged
    * (drawn from [0, 1.1·maxKey], so about 9% are inserts), the keys
    * deleted, the point-lookup keys and the start of the pruned range.
    */
  final case class Cycle(merge: Seq[Long], delete: Seq[Long],
      lookup: Seq[Long], rangeLo: Long)

  def cycles(seed: Long, maxKey: Long, merges: Int, deletes: Int,
      lookups: Int): Iterator[Cycle] = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 3)
    val hi = (maxKey * 1.1).toLong + 1
    def distinct(k: Int, bound: Long): Seq[Long] = {
      val s = scala.collection.mutable.LinkedHashSet[Long]()
      while (s.size < k) s += rnd.nextLong(bound)
      s.toSeq
    }
    Iterator.continually {
      Cycle(distinct(merges, hi), distinct(deletes, hi),
        distinct(lookups, hi), rnd.nextLong(hi))
    }
  }
}
