package flowbench

import graft.pipeline.{CleanPipeline, Listings}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Seeded raw-listings generator in the shape of the reference's Kaggle
  * `train.csv` / `test.csv` (FIXTURES.md §1): the 29 raw columns, the
  * three literal dirty zipcodes, hyphen and decimal zipcode forms,
  * leading-zero zipcodes, and nulls sized so that about 38.8% of the rows
  * survive `dropna` (the reference keeps 38,502 of 99,569).
  *
  * The price carries real feature signal (capacity, room type, city, …)
  * plus noise, so a fitted model beats the naive-mean baseline.
  *
  * Rows are drawn in the benchmark's own process from one
  * `SplittableRandom(seed)`, so the generator knows exactly which rows the cleaning flow must keep.
  */
object ListingsGen {

  /** The reference's raw row count and its train/test split (NB cell 4). */
  val referenceRows = 99569
  val referenceTrainRows = 74111

  final case class Raw(train: Seq[Row], test: Seq[Row], expectedClean: Long)

  private def weighted[T](r: java.util.SplittableRandom, items: Seq[(T, Double)]): T = {
    var x = r.nextDouble() * items.map(_._2).sum
    items.find { case (_, w) => x -= w; x < 0 }.getOrElse(items.last)._1
  }

  private val propertyTypes: Seq[(String, Double)] = Seq(
    "Apartment" -> 0.66, "House" -> 0.22, "Condominium" -> 0.035,
    "Townhouse" -> 0.023, "Loft" -> 0.017, "Other" -> 0.008,
    "Guesthouse" -> 0.007, "Bed & Breakfast" -> 0.006, "Bungalow" -> 0.005) ++
    Seq("Villa", "Dorm", "Guest suite", "Camper/RV", "Timeshare", "Cabin",
      "In-law", "Hostel", "Boutique hotel", "Boat", "Serviced apartment",
      "Tent", "Castle", "Vacation home", "Yurt", "Hut", "Treehouse", "Chalet",
      "Earth House", "Tipi", "Train", "Cave", "Casa particular",
      "Parking Space", "Lighthouse", "Island").map(_ -> 0.00073)
  private val roomTypes = Seq("Entire home/apt" -> 0.56, "Private room" -> 0.41,
    "Shared room" -> 0.03)
  private val bedTypes = Seq("Real Bed" -> 0.97, "Futon" -> 0.01,
    "Pull-out Sofa" -> 0.008, "Airbed" -> 0.007, "Couch" -> 0.005)
  private val policies = Seq("strict" -> 0.44, "flexible" -> 0.30,
    "moderate" -> 0.26, "super_strict_30" -> 0.0014,
    "super_strict_60" -> 0.0003, "long_term" -> 0.0001)
  private val accommodatesDist = Seq(2 -> 0.43, 4 -> 0.16, 3 -> 0.10,
    1 -> 0.09, 6 -> 0.07, 5 -> 0.06, 8 -> 0.03, 7 -> 0.02, 10 -> 0.01,
    9 -> 0.005, 12 -> 0.005, 16 -> 0.004, 11 -> 0.002, 14 -> 0.002,
    13 -> 0.001, 15 -> 0.001)
  // (name, share, lat, long, zip stem, log-price effect)
  private val cities = Seq(
    ("NYC", 0.44, 40.71, -74.0, "10", 0.25), ("LA", 0.30, 34.05, -118.24, "90", 0.05),
    ("SF", 0.09, 37.77, -122.42, "94", 0.35), ("DC", 0.08, 38.9, -77.04, "20", 0.10),
    ("Chicago", 0.05, 41.88, -87.63, "60", 0.0), ("Boston", 0.04, 42.36, -71.06, "02", 0.15))
  private val amenities = Seq("TV", "\"Wireless Internet\"", "Kitchen",
    "\"Air conditioning\"", "Heating", "Essentials", "Washer", "Dryer",
    "\"Smoke detector\"", "Shampoo", "Hangers", "\"Hair dryer\"", "Iron")

  /** Draw `n` raw listings, split into train and test in the reference's
    * proportion. */
  def generate(seed: Long, n: Int): Raw = {
    val r = new java.util.SplittableRandom(seed)
    val nTrain = math.round(n.toLong * referenceTrainRows / referenceRows.toDouble).toInt
    val dirty = CleanPipeline.dirtyZipcodes
    // the dirty rows sit at seeded positions and carry no nulls, so they
    // reach (and are removed by) the dirty-zipcode filter
    val dirtyAt = Iterator.continually(r.nextInt(n)).distinct.take(dirty.size)
      .zip(dirty).toMap
    var kept = 0L
    val rows = (0 until n).map { i =>
      val cityIdx = {
        var x = r.nextDouble(); var k = 0
        while (k < cities.size - 1 && { x -= cities(k)._2; x >= 0 }) k += 1
        k
      }
      val (city, _, lat, lon, stem, cityEffect) = cities(cityIdx)
      val forced = dirtyAt.contains(i)
      def nul(p: Double) = !forced && r.nextDouble() < p
      val noReviews = nul(0.25)
      val noRating = noReviews || nul(0.02)
      val noResponse = nul(0.31)
      val noThumb = nul(0.13)
      val noHood = nul(0.10)
      val noZip = nul(0.013)
      val noHost = nul(0.0025)
      val noBath = nul(0.0027)
      val noBedrooms = nul(0.0012)
      val noBeds = nul(0.0017)
      val property = weighted(r, propertyTypes)
      val room = weighted(r, roomTypes)
      val accommodates = weighted(r, accommodatesDist)
      val bedrooms = math.max(0, math.min(10, accommodates / 2 + r.nextInt(3) - 1))
      val beds = math.max(1, bedrooms + r.nextInt(3))
      val bathrooms = 1.0 + 0.5 * r.nextInt(if (accommodates > 4) 5 else 2)
      val cleaningFee = r.nextDouble() < 0.73
      val logPrice = 3.3 + 0.11 * accommodates + 0.12 * bedrooms +
        0.08 * bathrooms + cityEffect +
        (room match { case "Entire home/apt" => 0.6; case "Private room" => 0.1; case _ => 0.0 }) +
        (if (property == "House") 0.05 else 0.0) +
        (if (cleaningFee) 0.05 else 0.0) + r.nextGaussian() * 0.3
      val zip5 = stem + f"${r.nextInt(1000)}%03d"
      val zipcode = dirtyAt.getOrElse(i, r.nextInt(20) match {
        case 0 => s"$zip5-${1000 + r.nextInt(9000)}"
        case 1 => s"$zip5.0"
        case _ => zip5
      })
      val hostSince = f"${2008 + r.nextInt(10)}%04d-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d"
      val firstReview = f"${2010 + r.nextInt(7)}%04d-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d"
      val nAmen = 3 + r.nextInt(amenities.size - 3)
      val amen = amenities.take(nAmen).mkString("{", ",", "}")
      val hood = s"${city}_hood_${r.nextInt(105)}"
      val row = Row(
        1000000L + i,                                         // id
        logPrice,                                             // log_price
        property,                                             // property_type
        room,                                                 // room_type
        amen,                                                 // amenities
        accommodates.toLong,                                  // accommodates
        if (noBath) null else bathrooms,                      // bathrooms
        weighted(r, bedTypes),                                // bed_type
        weighted(r, policies),                                // cancellation_policy
        cleaningFee,                                          // cleaning_fee
        city,                                                 // city
        s"Cozy $room in $city, sleeps $accommodates",         // description
        if (noReviews) null else firstReview,                 // first_review
        if (noHost) null else (if (r.nextDouble() < 0.997) "t" else "f"), // host_has_profile_pic
        if (noHost) null else (if (r.nextDouble() < 0.67) "t" else "f"),  // host_identity_verified
        if (noResponse) null else s"${50 + r.nextInt(51)}%",  // host_response_rate
        if (noHost) null else hostSince,                      // host_since
        if (r.nextDouble() < 0.26) "t" else "f",              // instant_bookable
        if (noReviews) null else "2017-09-01",                // last_review
        lat + r.nextGaussian() * 0.05,                        // latitude
        lon + r.nextGaussian() * 0.05,                        // longitude
        s"$property near $hood",                              // name
        if (noHood) null else hood,                           // neighbourhood
        (if (noReviews) 0 else 1 + r.nextInt(200)).toLong,    // number_of_reviews
        if (noRating) null else (60 + r.nextInt(41)).toDouble, // review_scores_rating
        if (noThumb) null else s"https://img.example/$i.jpg", // thumbnail_url
        if (noZip) null else zipcode,                         // zipcode
        if (noBedrooms) null else bedrooms.toDouble,          // bedrooms
        if (noBeds) null else beds.toDouble)                  // beds
      if (!forced && !row.toSeq.contains(null)) kept += 1
      row
    }
    Raw(rows.take(nTrain), rows.drop(nTrain), kept)
  }

  /** Write the train and test rows as `<dir>/train.csv` and
    * `<dir>/test.csv`, the reference's two raw files: a header line, every
    * string quoted (inner quotes doubled), a null as an empty field. */
  def write(dir: String, raw: Raw): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    def field(v: Any): String = v match {
      case null      => ""
      case s: String => "\"" + s.replace("\"", "\"\"") + "\""
      case x         => x.toString
    }
    def land(rows: Seq[Row], name: String): Unit = {
      val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(dir, name))
      try {
        w.write(Listings.rawSchema.fieldNames.mkString(","))
        w.newLine()
        rows.foreach { r => w.write(r.toSeq.map(field).mkString(",")); w.newLine() }
      } finally w.close()
    }
    land(raw.train, "train.csv")
    land(raw.test, "test.csv")
  }

  /** Read one of the files `write` lands, with the raw schema. */
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(Listings.rawSchema).option("header", "true")
      .option("escape", "\"").csv(s"$dir/$name.csv")
}
