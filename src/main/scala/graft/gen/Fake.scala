package graft.gen

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, seeded replacements for the reference's javafaker fields.
  *
  * The reference shares one seedless `Random`+`Faker` across all producer
  * threads (reference: DataGenerator.java:142-143) and is therefore
  * irreproducible by design; this engine derives every field from
  * `(seed, recordId, fieldName)` via `xxhash64` so generated data is
  * stable, oracle-checkable, and fully distributed (pure Column
  * expressions — whole-stage-codegen, no UDFs). SURVEY §2.1 S3, §7.3.
  */
object Fake {

  // Broadcast-sized lookup dimensions (the faker yml tables, reduced).
  val firstNames: Seq[String] = Seq(
    "James", "Mary", "Robert", "Patricia", "John", "Jennifer", "Michael",
    "Linda", "David", "Elizabeth", "William", "Barbara", "Richard", "Susan",
    "Joseph", "Jessica", "Thomas", "Sarah", "Charles", "Karen", "Christopher",
    "Lisa", "Daniel", "Nancy", "Matthew", "Betty", "Anthony", "Margaret",
    "Mark", "Sandra", "Donald", "Ashley")
  val lastNames: Seq[String] = Seq(
    "Smith", "Johnson", "Williams", "Brown", "Jones", "Garcia", "Miller",
    "Davis", "Rodriguez", "Martinez", "Hernandez", "Lopez", "Gonzalez",
    "Wilson", "Anderson", "Thomas", "Taylor", "Moore", "Jackson", "Martin",
    "Lee", "Perez", "Thompson", "White", "Harris", "Sanchez", "Clark",
    "Ramirez", "Lewis", "Robinson", "Walker", "Young")
  val cities: Seq[String] = Seq(
    "Springfield", "Riverton", "Fairview", "Kingston", "Georgetown",
    "Salem", "Madison", "Clayton", "Franklin", "Greenville", "Bristol",
    "Clinton", "Dayton", "Hudson", "Milton", "Newport", "Oakland",
    "Ashland", "Burlington", "Camden", "Dover", "Easton", "Florence",
    "Glendale", "Hamilton", "Jackson", "Lebanon", "Manchester", "Norwood",
    "Oxford", "Princeton", "Quincy")
  val states: Seq[String] = Seq(
    "Alabama", "Alaska", "Arizona", "Arkansas", "California", "Colorado",
    "Connecticut", "Delaware", "Florida", "Georgia", "Hawaii", "Idaho",
    "Illinois", "Indiana", "Iowa", "Kansas", "Kentucky", "Louisiana",
    "Maine", "Maryland", "Massachusetts", "Michigan", "Minnesota",
    "Mississippi", "Missouri", "Montana", "Nebraska", "Nevada",
    "Ohio", "Oregon", "Texas", "Utah")
  val streets: Seq[String] = Seq(
    "Maple Street", "Oak Avenue", "Pine Road", "Cedar Lane", "Elm Drive",
    "Walnut Court", "Birch Boulevard", "Chestnut Way", "Spruce Terrace",
    "Willow Path", "Ash Circle", "Poplar Place", "Sycamore Row",
    "Magnolia Crescent", "Juniper Alley", "Hickory Bend", "Laurel Grove",
    "Hawthorn Close", "Alder Ridge", "Beech Hollow", "Cypress Point",
    "Dogwood Trail", "Fir Summit", "Holly Meadow", "Ivy Garden",
    "Linden Square", "Mulberry Walk", "Olive Crossing", "Palm View",
    "Redwood Pass", "Sequoia Heights", "Tamarack Shore")
  val beerNames: Seq[String] = Seq(
    "Hoptimus Prime", "Golden Haze", "Midnight Stout", "River Ale",
    "Summit Lager", "Copper Kettle", "Wild Meadow", "Iron Anchor",
    "Sunset Porter", "Frostbite IPA", "Harvest Moon", "Granite Peak",
    "Velvet Antler", "Thunder Brook", "Silent Owl", "Crimson Barrel",
    "Foggy Harbor", "Lucky Penny", "Northern Light", "Old Lighthouse",
    "Prairie Wind", "Quarry Stone", "Rustic Cabin", "Silver Birch",
    "Timber Wolf", "Urban Bloom", "Valley Forge", "Whistling Pig",
    "Yellow Field", "Zephyr Breeze", "Amber Waves", "Bold Badger")
  val beerStyles: Seq[String] = Seq(
    "IPA", "Stout", "Porter", "Pilsner", "Lager", "Saison", "Witbier",
    "Pale Ale", "Amber Ale", "Brown Ale", "Hefeweizen", "Dubbel",
    "Tripel", "Gose", "Kolsch", "Barleywine")
  val countries: Seq[String] = Seq(
    "Argentina", "Australia", "Austria", "Belgium", "Brazil", "Canada",
    "Chile", "China", "Denmark", "Egypt", "Finland", "France", "Germany",
    "Greece", "India", "Indonesia", "Ireland", "Italy", "Japan", "Kenya",
    "Mexico", "Netherlands", "Norway", "Peru", "Poland", "Portugal",
    "Spain", "Sweden", "Switzerland", "Thailand", "Turkey", "Vietnam")
  val animals: Seq[String] = Seq(
    "Aardvark", "Badger", "Capybara", "Dolphin", "Elephant", "Falcon",
    "Giraffe", "Hedgehog", "Ibex", "Jaguar", "Kestrel", "Lemur",
    "Marmot", "Narwhal", "Ocelot", "Pangolin", "Quokka", "Raccoon",
    "Salamander", "Tapir", "Urchin", "Vulture", "Wombat", "Xerus",
    "Yak", "Zebra", "Otter", "Puffin", "Stoat", "Toucan", "Walrus", "Lynx")

  /** Stable 64-bit stream per (seed, field, id). */
  def h(seed: Long, field: String, id: Column): Column =
    xxhash64(lit(seed), lit(field), id)

  /** Deterministic pick from a lookup dimension. */
  def pick(values: Seq[String], seed: Long, field: String, id: Column): Column =
    element_at(
      typedLit(values),
      (pmod(h(seed, field, id), lit(values.size)) + 1).cast("int"))

  /** Non-negative bounded int derived from the hash stream. */
  def bounded(seed: Long, field: String, id: Column, n: Int): Column =
    pmod(h(seed, field, id), lit(n))

  /** US-SSN-shaped id, the shape of faker `idNumber().valid()`
    * (reference: DataGenerator.java:475-478).
    */
  def idNumber(seed: Long, field: String, id: Column): Column =
    format_string("%03d-%02d-%04d",
      bounded(seed, field + ".a", id, 899) + 1,
      bounded(seed, field + ".b", id, 99) + 1,
      bounded(seed, field + ".c", id, 9999) + 1)

  def firstName(seed: Long, id: Column): Column = pick(firstNames, seed, "firstName", id)
  def lastName(seed: Long, id: Column): Column = pick(lastNames, seed, "lastName", id)
  def city(seed: Long, id: Column): Column = pick(cities, seed, "city", id)
  def state(seed: Long, id: Column): Column = pick(states, seed, "state", id)
  def street(seed: Long, id: Column): Column = pick(streets, seed, "street", id)
  def country(seed: Long, id: Column): Column = pick(countries, seed, "country", id)
  def animal(seed: Long, id: Column): Column = pick(animals, seed, "animal", id)

  def streetNumber(seed: Long, id: Column): Column =
    (bounded(seed, "streetNumber", id, 9899) + 100).cast("string")

  def zipCode(seed: Long, id: Column): Column =
    format_string("%05d", bounded(seed, "zip", id, 99999))

  /** ISO-8601 instant string for a birthday between 1946 and 2006
    * (shape of faker `date().birthday()`, reference DataGenerator.java:488).
    */
  def birthDate(seed: Long, id: Column): Column = {
    val epochSec = bounded(seed, "birth", id, 60 * 365 * 24 * 3600).cast("long") -
      (24L * 365 * 24 * 3600) // offset into [1946, 2006)
    date_format(timestamp_seconds(epochSec), "yyyy-MM-dd'T'HH:mm:ss'Z'")
  }

  /** A beer struct (reference DataGenerator.java:468-472). */
  def beer(seed: Long, field: String, id: Column): Column = struct(
    pick(beerNames, seed, field + ".name", id).as("name"),
    pick(beerStyles, seed, field + ".style", id).as("style"))

  /** Deterministic `bytes`-byte random payload, base64-encoded — the
    * reference fills a 500-byte buffer from a shared Random and base64s it
    * (reference: DataGenerator.java:456,:466,:500). Derivation: chained
    * sha256 blocks over (seed, id, blockIdx), hex → unhex → base64.
    * Pure built-in functions, codegen-friendly.
    *
    * Spark's `base64()` is MIME-chunked (CRLF every 76 chars); the
    * reference uses the unchunked `Base64.getEncoder` — strip the CRLFs
    * so the wire format matches.
    */
  def payloadBase64(seed: Long, id: Column, bytes: Int = 500): Column =
    graft.functions.DeterministicBase64.deterministic_base64(lit(seed), id, bytes)
}
