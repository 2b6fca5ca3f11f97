package graft

import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import scala.util.Random

import graft.ops.Audit
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The native row hash is bit-identical to the reference's built-in
  * expression, kept here only as the oracle, over every type a table
  * can carry: natively formatted ones, their out-of-range values, and
  * the types that go through Spark's cast. Checked under whole-stage
  * codegen, split expression codegen and the interpreted path, in UTC,
  * a fixed non-zero offset and a zone with DST changes.
  */
class RowHashSpec extends SparkSpec {

  private def oracle(cols: Seq[String]): Column =
    md5(concat(lit("("),
      concat_ws(",", cols.map(c => coalesce(col(c).cast("string"), lit(""))): _*),
      lit(")")))

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false), StructField("i8", ByteType), StructField("i16", ShortType),
    StructField("i32", IntegerType), StructField("i64", LongType),
    StructField("flag", BooleanType), StructField("str", StringType),
    StructField("d1_0", DecimalType(1, 0)), StructField("d18_0", DecimalType(18, 0)),
    StructField("d12_2", DecimalType(12, 2)), StructField("d18_18", DecimalType(18, 18)),
    StructField("d38_0", DecimalType(38, 0)), StructField("d38_38", DecimalType(38, 38)),
    StructField("d20_4", DecimalType(20, 4)),
    StructField("f64", DoubleType), StructField("f32", FloatType),
    StructField("day", DateType), StructField("ts", TimestampType),
    StructField("ntz", TimestampNTZType), StructField("bin", BinaryType),
    StructField("arr", ArrayType(IntegerType)),
    StructField("rec", StructType(Seq(StructField("a", IntegerType),
      StructField("b", StringType), StructField("c", DecimalType(10, 9)))))))

  private val microsPerSec = 1000000L
  /** 0001-01-01T00:00:00Z and 9999-12-31T23:59:59.999999Z */
  private val firstMicros = -62135596800L * microsPerSec
  private val lastMicros = 253402300800L * microsPerSec - 1
  /** US DST changes, 2021-03-14T10:00Z and 2021-11-07T09:00Z */
  private val dstChanges = Seq(1615716000L, 1636275600L).map(_ * microsPerSec)

  private val edgeMicros = Seq(0L, 1L, -1L, 10L, -999999L, 1000000L, 123456789L,
    -86400L * microsPerSec + 500000L, firstMicros, lastMicros,
    firstMicros - 1, lastMicros + 1, firstMicros - 86400L * microsPerSec,
    -100000L * 86400L * microsPerSec * 365, 40000L * 86400L * microsPerSec * 365,
    -12219292800L * microsPerSec - 1) ++ dstChanges.flatMap(t => Seq(t - 1, t, t + 1))

  private def randomMicros(r: Random): Long = r.nextInt(4) match {
    case 0 => firstMicros + (r.nextDouble() * (lastMicros - firstMicros)).toLong
    case 1 => dstChanges(r.nextInt(2)) + r.nextLong() % (3 * 3600L * microsPerSec)
    case 2 => (r.nextLong() % (4000000000L * microsPerSec)) / 1000 * 1000
    case _ => (r.nextLong() % (4000000000L * microsPerSec)) / microsPerSec * microsPerSec
  }

  private def dec(unscaled: BigInt, scale: Int) =
    new java.math.BigDecimal(unscaled.bigInteger, scale)

  /** A decimal(p, s) value: edges or random unscaled digits. */
  private def decimal(r: Random, p: Int, s: Int): java.math.BigDecimal = {
    val max = BigInt(10).pow(p) - 1
    r.nextInt(6) match {
      case 0 => dec(0, s)
      case 1 => dec(if (r.nextBoolean()) max else -max, s)
      case 2 => dec(if (r.nextBoolean()) 1 else -1, s)
      case 3 => dec(BigInt(r.nextInt(1000) - 500) % max, s)
      case _ => dec(BigInt(p * 4, r) % max * (if (r.nextBoolean()) 1 else -1), s)
    }
  }

  private def pick[T](r: Random, edges: Seq[T], random: => T): Any =
    r.nextInt(10) match {
      case 0 => null
      case k if k < 5 => edges(r.nextInt(edges.size))
      case _ => random
    }

  private def instant(micros: Long) = Instant.ofEpochSecond(
    Math.floorDiv(micros, microsPerSec), Math.floorMod(micros, microsPerSec) * 1000)

  private def row(id: Int, r: Random): Row = {
    val days = pick(r, Seq(0L, -1L, 1L, -719162L, 2932896L, -719163L, 2932897L,
      -1000000L, 5000000L, -141428L, -141427L, -25567L),
      r.nextInt(3700000) - 750000L)
    val ts = pick(r, edgeMicros, randomMicros(r))
    val ntz = pick(r, edgeMicros, randomMicros(r))
    Row(id,
      pick(r, Seq(Byte.MinValue, Byte.MaxValue, 0.toByte, -1.toByte), r.nextInt(256).toByte),
      pick(r, Seq(Short.MinValue, Short.MaxValue, 0.toShort), r.nextInt(65536).toShort),
      pick(r, Seq(Int.MinValue, Int.MaxValue, 0, -1, 10), r.nextInt()),
      pick(r, Seq(Long.MinValue, Long.MaxValue, 0L, -1L, 1000000000000000000L), r.nextLong()),
      pick(r, Seq(true, false), r.nextBoolean()),
      pick(r, Seq("", "é", "日本語", "a,b", "(x)", "\u0000", "😀 tail"),
        r.alphanumeric.take(r.nextInt(12)).mkString),
      pick(r, Seq(dec(0, 0), dec(9, 0), dec(-9, 0)), decimal(r, 1, 0)),
      decimal(r, 18, 0),
      decimal(r, 12, 2),
      pick(r, Seq(dec(0, 18), dec(1, 18), dec(-1, 18), dec(BigInt("123000000000"), 18),
        dec(BigInt("100000000000"), 18), dec(BigInt("1000000000000"), 18)), decimal(r, 18, 18)),
      decimal(r, 38, 0),
      pick(r, Seq(dec(1, 38), dec(0, 38)), decimal(r, 38, 38)),
      decimal(r, 20, 4),
      pick(r, Seq(Double.NaN, 0.0, -0.0, Double.PositiveInfinity, Double.NegativeInfinity,
        Double.MaxValue, Double.MinPositiveValue, 1e300, -1e-300, 1e7, 9999999.0, 1e-3,
        1e-4, 0.1, 100.0), java.lang.Double.longBitsToDouble(r.nextLong())),
      pick(r, Seq(Float.NaN, 0.0f, -0.0f, Float.PositiveInfinity, Float.NegativeInfinity,
        Float.MaxValue, Float.MinPositiveValue, 1e7f, 1e-3f, 0.1f),
        java.lang.Float.intBitsToFloat(r.nextInt())),
      if (days == null) null else LocalDate.ofEpochDay(days.asInstanceOf[Long]),
      if (ts == null) null else instant(ts.asInstanceOf[Long]),
      if (ntz == null) null
      else LocalDateTime.ofInstant(instant(ntz.asInstanceOf[Long]), ZoneOffset.UTC),
      pick(r, Seq(Array.emptyByteArray, Array[Byte](0, -1, 44)),
        Array.fill(r.nextInt(6))(r.nextInt(256).toByte)),
      pick(r, Seq(Seq.empty[Integer], Seq[Integer](null), Seq[Integer](1, null, -3)),
        Seq.fill(r.nextInt(4))(Integer.valueOf(r.nextInt()))),
      pick(r, Seq(Row(null, null, null), Row(0, "", dec(1, 9))),
        Row(r.nextInt(), r.alphanumeric.take(3).mkString, decimal(r, 10, 9))))
  }

  private val rows = {
    val r = new Random(20240601L)
    (0 until 600).map(row(_, r))
  }

  /** Every column alone and the whole row, native vs oracle: the
    * differing (columns, row) pairs, and the executed plan. */
  private def compare(): (Seq[String], String) = {
    // an RDD scan, not a local relation, so the optimizer does not
    // fold the projection on the driver and the chosen path runs
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val names = schema.fieldNames.toSeq
    val sets = names.map(Seq(_)) :+ names
    val hashed = df.select(col("id") +: sets.zipWithIndex.flatMap { case (cs, i) =>
      Seq(Audit.rowHashExpr(cs).as(s"native$i"), oracle(cs).as(s"oracle$i"))
    }: _*)
    val out = hashed.collect()
    assert(out.length == rows.size)
    val bad = for {
      r <- out.toSeq
      (cs, i) <- sets.zipWithIndex
      if r.getString(2 * i + 1) != r.getString(2 * i + 2)
    } yield s"${cs.mkString(",")}: ${r.getString(2 * i + 1)} != ${r.getString(2 * i + 2)}" +
      s" on ${rows(r.getInt(0)).toSeq.map(String.valueOf).mkString("[", ", ", "]")}"
    // not vacuous: every whole-row hash differs
    assert(out.map(_.getString(2 * sets.size)).distinct.length == rows.size)
    (bad, hashed.queryExecution.executedPlan.treeString)
  }

  private val modes = Seq(
    "whole-stage codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true"),
    "split expression codegen" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  for ((mode, conf) <- modes; zone <- Seq("UTC", "+05:30", "America/Los_Angeles")) {
    test(s"bit-identical to the built-in md5 expression: $mode, session zone $zone") {
      val (bad, plan) = withConf(conf :+ ("spark.sql.session.timeZone" -> zone): _*)(compare())
      assert(bad.isEmpty, s"${bad.size} differing hashes, first ones:\n${bad.take(5).mkString("\n")}")
      assert(plan.contains("*(") == (mode == "whole-stage codegen"), plan)
    }
  }

  test("bit-identical with ANSI off, where decimal casts print E-notation") {
    val (bad, _) = withConf("spark.sql.ansi.enabled" -> "false")(compare())
    assert(bad.isEmpty, s"${bad.size} differing hashes, first ones:\n${bad.take(5).mkString("\n")}")
    assert(withConf("spark.sql.ansi.enabled" -> "false")(
      spark.sql("select cast(cast(1e-18 as decimal(18,18)) as string)").head().getString(0)) == "1E-18")
  }

  test("bit-identical under the legacy time parser policy") {
    val (bad, _) = withConf("spark.sql.legacy.timeParserPolicy" -> "LEGACY")(compare())
    assert(bad.isEmpty, s"${bad.size} differing hashes, first ones:\n${bad.take(5).mkString("\n")}")
  }

  test("no columns hash the empty row text") {
    assert(spark.range(1).select(Audit.rowHashExpr(Nil)).head() ==
      spark.range(1).select(md5(lit("()"))).head())
  }
}
