package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

/** Seeded stand-ins for the reference's three dimension CSVs, with the
  * profiles the retail specs depend on: 19,383 / 4,386 / 473 rows, 178
  * customers with an empty residence, 21 `short_zipcode` values that occur
  * twice (so customer ⟕ zipcode fans out), and zero-padded string keys.
  * The purchase fact is synthesized by the program from a row count. */
object RetailInputs {
  val Customers = 19383
  val Products = 4386
  val Zipcodes = 473
  val EmptyResidences = 178
  val DuplicatedShortZips = 21

  private val ageGroups = Seq("19세이하", "20세~24세", "25세~29세", "30세~34세",
    "35세~39세", "40세~44세", "45세~49세", "50세~54세", "55세~59세", "60세이상")
  private val affiliates = Seq("A" -> 630, "B" -> 2624, "C" -> 987, "D" -> 145)
  private val categories = Seq("일용잡화", "가공식품", "신선식품", "의류잡화",
    "가전제품", "생활용품", "스포츠", "화장품")
  private val provinces = Seq("서울특별시" -> "Seoul", "부산광역시" -> "Busan",
    "대구광역시" -> "Daegu", "인천광역시" -> "Incheon", "광주광역시" -> "Gwangju",
    "대전광역시" -> "Daejeon", "울산광역시" -> "Ulsan", "세종특별자치시" -> "Sejong",
    "경기도" -> "Gyeonggi-do", "강원도" -> "Gangwon-do",
    "충청북도" -> "Chungcheongbuk-do", "충청남도" -> "Chungcheongnam-do",
    "전라북도" -> "Jeollabuk-do", "전라남도" -> "Jeollanam-do",
    "경상북도" -> "Gyeongsangbuk-do", "경상남도" -> "Gyeongsangnam-do",
    "제주특별자치도" -> "Jeju-do")

  private def write(path: File, header: String, rows: Iterator[String])
      : Unit = {
    val w = new PrintWriter(path, StandardCharsets.UTF_8)
    try { w.println(header); rows.foreach(w.println) } finally w.close()
  }

  /** Writes customer.csv, products_info.csv and zipcode.csv into `dir`. */
  def write(dir: File, seed: Long): Unit = {
    dir.mkdirs()
    val rnd = new SplittableRandom(seed)

    // 452 distinct short codes; the first 21 are listed twice
    val shortZips = rnd.ints(0, 1000).distinct().limit(
      Zipcodes - DuplicatedShortZips).toArray.map(i => f"$i%03d")
    val zipRows = (shortZips ++ shortZips.take(DuplicatedShortZips))
      .zipWithIndex.map { case (sz, i) =>
        val (prov, provEng) = provinces(rnd.nextInt(provinces.size))
        val county = s"군$i"
        Seq(f"${sz.toInt * 100 + rnd.nextInt(100)}%05d", prov, provEng,
          county, s"County-$i", if (rnd.nextInt(3) == 0) "" else s"읍$i",
          if (rnd.nextInt(3) == 0) "" else s"Eup-$i", s"로$i", s"Ro-$i", sz)
          .mkString(",")
      }
    write(new File(dir, "zipcode.csv"),
      "zipcode,province_city,province_city_eng,city_county," +
        "city_county_eng,eup_myeon,eup_myeon_eng,road_nm,road_nm_eng," +
        "short_zipcode", zipRows.iterator)

    val empty = rnd.ints(0, Customers).distinct().limit(EmptyResidences)
      .toArray.toSet
    write(new File(dir, "customer.csv"),
      "customer_id,sex,age_group,residence",
      Iterator.range(0, Customers).map { i =>
        val sex = if (rnd.nextInt(Customers) < 15898) "F" else "M"
        val res = if (empty(i)) "" else shortZips(rnd.nextInt(shortZips.length))
        f"${i + 1}%05d,$sex,${ageGroups(rnd.nextInt(ageGroups.size))},$res"
      })

    write(new File(dir, "products_info.csv"),
      "affiliate,division_cd,main_category_cd,sub_category_cd," +
        "main_category_desc,sub_category_desc",
      affiliates.iterator.flatMap { case (aff, n) =>
        Iterator.range(0, n).map { i =>
          val div = f"${i % 21 + 1}%02d"
          val main = f"$div${i / 21 % 30 + 1}%02d"
          val cat = categories(rnd.nextInt(categories.size))
          s"$aff,$div,$main,$aff$main${f"${i / 630}%02d"}${i % 10}," +
            s"$cat,$cat-${rnd.nextInt(40)}"
        }
      })
  }
}
