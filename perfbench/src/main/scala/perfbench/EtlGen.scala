package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDate

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Sizes of the reference-shaped ETL inputs. Product ids 1..productIds
  * are referenced by orders, but only `products` of them exist, so some
  * order rows match no product; `userInfo` documents outnumber `users`. */
final case class EtlSizes(products: Int, productIds: Int, users: Int,
                          userInfo: Int) {
  require(products <= productIds && users <= userInfo)
}

/** Expected sink contents, computed by the generator from its own
  * knowledge of the reference's join and normalization rules. */
final case class EtlExpected(users: Digest, products: Digest)

/** Seeded generator for the reference DAG's inputs (FIXTURES.md §A
  * invariants, scaled up): `products.csv`, `users.csv`, the nested
  * `{status, data:[...]}` `user_info.json`, and any number of order fact
  * files. Everything derives from `seed`; no Spark is involved. */
final class EtlGen(seed: Long, val sizes: EtlSizes) {
  import EtlGen._

  private val rng = new java.util.Random(Rand.mix(seed, 1))

  private val productName = new Array[String](sizes.productIds + 1)
  private val productCategory = new Array[String](sizes.productIds + 1)
  private val productPrice = new Array[Long](sizes.productIds + 1)
  locally {
    val ids = Rand.shuffled(rng, (1 to sizes.productIds).toArray)
    ids.take(sizes.products).foreach { id =>
      productName(id) = s"${pick(Adjectives)} ${pick(Materials)} ${pick(Nouns)}"
      productCategory(id) = pick(Categories)
      productPrice(id) = 1000L + rng.nextInt(99001)
    }
  }

  /** user id (1-based) → its document; documents of user_info are
    * DocBase until DocBase + userInfo, users hold a random subset. */
  private val userDocument: Array[Long] = {
    val docs = Rand.shuffled(rng, (0 until sizes.userInfo).toArray)
    Array(0L) ++ docs.take(sizes.users).map(DocBase + _)
  }

  private val info: Array[Info] = Array.tabulate(sizes.userInfo) { j =>
    val first = pick(FirstNames)
    val last = pick(LastNames)
    val born = LocalDate.of(1964, 1, 1).plusDays(rng.nextInt(15706))
    // the first records carry every gender spelling, the rest are random
    val gender = if (j < Genders.length) Genders(j) else pick(Genders)
    val n = 100 + rng.nextInt(900)
    val phone = rng.nextInt(3) match {
      case 0 => f"+57 3${rng.nextInt(100)}%02d ${rng.nextInt(1000)}%03d ${rng.nextInt(10000)}%04d"
      case 1 => f"(3${rng.nextInt(100)}%02d) ${rng.nextInt(1000)}%03d-${rng.nextInt(10000)}%04d"
      case _ => f"3${rng.nextInt(100)}%02d.${rng.nextInt(1000)}%03d.${rng.nextInt(10000)}%04d"
    }
    Info(s"$first $last",
      f"${born}T${rng.nextInt(24)}%02d:${rng.nextInt(60)}%02d:${rng.nextInt(60)}%02d",
      gender, s"${first.toLowerCase}.${last.toLowerCase}$n@example.com", phone)
  }

  private def pick(xs: Array[String]): String = xs(rng.nextInt(xs.length))

  /** Writes products.csv, users.csv and user_info.json into `dir`;
    * returns the bytes written. */
  def writeDimensions(dir: Path): Long = {
    Files.createDirectories(dir)
    val p = writeLines(dir.resolve("products.csv")) { w =>
      w.write("Id,Name,Category,Price\n")
      for (id <- 1 to sizes.productIds if productName(id) != null)
        w.write(s"$id,${productName(id)},${productCategory(id)},${productPrice(id)}\n")
    }
    val u = writeLines(dir.resolve("users.csv")) { w =>
      w.write("Id,Document\n")
      for (id <- 1 to sizes.users) w.write(s"$id,${userDocument(id)}\n")
    }
    val j = writeLines(dir.resolve("user_info.json")) { w =>
      w.write("{\"status\": 200, \"data\": [\n")
      info.indices.foreach { i =>
        val r = info(i)
        w.write(s"""  {"document": ${DocBase + i}, "name": "${r.name}", "birthday": "${r.birthday}", "gender": "${r.gender}", "email": "${r.email}", "phone": "${r.phone}"}""")
        w.write(if (i + 1 < info.length) ",\n" else "\n")
      }
      w.write("]}\n")
    }
    p + u + j
  }

  /** users-enriched and products digests (the J1 join and the P5/P6
    * normalizations, restated here independently of the pipeline). */
  lazy val expected: EtlExpected = {
    val users = new Digest.Acc
    for (id <- 1 to sizes.users) {
      val doc = userDocument(id)
      val r = info((doc - DocBase).toInt)
      users.add(id, doc, r.name, r.birthday.takeWhile(_ != 'T'),
        normalizeGender(r.gender), r.email, r.phone)
    }
    val products = new Digest.Acc
    for (id <- 1 to sizes.productIds if productName(id) != null)
      products.add(id, productName(id), productCategory(id), productPrice(id))
    EtlExpected(users.result, products.result)
  }

  /** Writes one orders fact file of `rows` rows drawn from the stream
    * `(seed, file)`, dated over `days` consecutive days from
    * `firstDay`. Returns the expected orders-enriched digest of the file
    * (J2 drops unmatched products, J3 joins users) and its size. */
  def writeOrders(path: Path, file: Int, rows: Int, firstDay: LocalDate,
                  days: Int): (Digest, Long) = {
    val r = new java.util.Random(Rand.mix(seed, 1000L + file))
    val acc = new Digest.Acc
    val dayNames = Array.tabulate(days)(d => firstDay.plusDays(d).toString)
    val bytes = writeLines(path) { w =>
      w.write("Fecha,Product_ID,User_ID\n")
      var i = 0
      while (i < rows) {
        val fecha = dayNames(r.nextInt(days))
        val pid = 1 + r.nextInt(sizes.productIds)
        val uid = 1 + r.nextInt(sizes.users)
        w.write(fecha); w.write(','); w.write(pid.toString); w.write(',')
        w.write(uid.toString); w.write('\n')
        if (productName(pid) != null)
          acc.add(fecha, uid, pid, productName(pid), productCategory(pid),
            productPrice(pid))
        i += 1
      }
    }
    (acc.result, bytes)
  }
}

object EtlGen {
  private final case class Info(name: String, birthday: String,
                                gender: String, email: String,
                                phone: String)

  val DocBase = 300000L
  val Genders: Array[String] = Array("M", "F", "Male", "f", "Other")
  val FirstDay: LocalDate = LocalDate.of(2024, 4, 1)

  /** P5 as the reference states it: Male→M, f→F, all else unchanged. */
  def normalizeGender(g: String): String = g match {
    case "Male" => "M"
    case "f" => "F"
    case other => other
  }

  /** The sinks' expected schemas; reading them with these skips schema
    * inference, and a sink of another shape fails the check. */
  val UsersSink: StructType = sink("Id" -> LongType, "Document" -> LongType,
    "Name" -> StringType, "BirthDay" -> StringType, "Gender" -> StringType,
    "Email" -> StringType, "Phone" -> StringType)
  val OrdersSink: StructType = sink("Fecha" -> StringType, "User_ID" -> LongType,
    "Product_ID" -> LongType, "Product_Name" -> StringType,
    "Category" -> StringType, "Price" -> LongType)
  val ProductsSink: StructType = sink("Id" -> LongType, "Name" -> StringType,
    "Category" -> StringType, "Price" -> LongType)

  private def sink(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  /** The digests of sink tables under `dir`, read with their schemas. */
  def sinkDigests(spark: SparkSession, tables: (String, String, StructType)*): Map[String, Digest] =
    Digest.of(tables.map { case (name, path, schema) =>
      (name, spark.read.schema(schema).parquet(path), schema.fieldNames.toSeq)
    }: _*)

  private val Adjectives = Array("Ergonomic", "Rustic", "Sleek", "Small",
    "Handmade", "Refined", "Generic", "Licensed", "Gorgeous", "Practical")
  private val Materials = Array("Steel", "Wooden", "Cotton", "Granite",
    "Plastic", "Bronze", "Frozen", "Rubber", "Concrete", "Soft")
  private val Nouns = Array("Chair", "Car", "Computer", "Keyboard", "Mouse",
    "Bike", "Ball", "Gloves", "Pants", "Shirt", "Table", "Shoes", "Hat")
  private val Categories = Array("Books", "Movies", "Music", "Games",
    "Electronics", "Computers", "Home", "Garden", "Tools", "Grocery",
    "Health", "Beauty")
  private val FirstNames = Array("Ana", "Luis", "Maria", "Jorge", "Sofia",
    "Carlos", "Valentina", "Andres", "Camila", "Diego", "Laura", "Mateo")
  private val LastNames = Array("Garcia", "Rodriguez", "Martinez", "Lopez",
    "Gomez", "Perez", "Sanchez", "Ramirez", "Torres", "Diaz", "Vargas")

  /** Writes through a buffered UTF-8 writer; returns the file size. */
  def writeLines(path: Path)(body: BufferedWriter => Unit): Long = {
    val w = new BufferedWriter(new OutputStreamWriter(
      Files.newOutputStream(path), UTF_8), 1 << 16)
    try body(w) finally w.close()
    Files.size(path)
  }

  /** Lands `src` at `dest` in one atomic rename, so a reader watching
    * `dest`'s directory never sees a partial file. */
  def land(src: Path, dest: Path): Unit = {
    Files.createDirectories(dest.getParent)
    Files.move(src, dest, StandardCopyOption.ATOMIC_MOVE)
  }
}

/** Seed derivation shared by the generators. */
object Rand {
  /** splitmix64 of (seed, stream): independent streams per input. */
  def mix(seed: Long, stream: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def shuffled[T](rng: java.util.Random, xs: Array[T]): Array[T] = {
    val a = xs.clone()
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }
}
