package graft.stedi

import java.nio.file.{Files, StandardCopyOption}
import java.util.Base64

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** STEDI pipeline vs the reference's golden fixtures (FIXTURES.md §1,
  * reference spark-streaming-pipeline/README.md:56,99-103,159-165). */
class StediSpec extends SparkSpec {

  private val customerJson =
    """{"customerName":"Sam Test","email":"sam.test@test.com","phone":"8015551212","birthDay":"2001-01-03"}"""

  private def redisValue(encoded: String): String =
    s"""{"key":"Q3VzdG9tZXI=","existType":"NONE","Ch":false,"Incr":false,"zSetEntries":[{"element":"$encoded","score":"0.0"}]}"""

  private val riskJson =
    """{"customer":"sam.test@test.com","score":7.0,"riskDate":"2020-09-14T07:54:06.417Z"}"""

  test("customersWithBirthYear decodes the golden redis payload") {
    import spark.implicits._
    val enc = Base64.getEncoder.encodeToString(customerJson.getBytes("UTF-8"))
    val raw = Seq(("k", redisValue(enc))).toDF("key", "value")
    val out = Stedi.customersWithBirthYear(raw).collect()
    assert(out.length == 1)
    assert(out(0).getString(0) == "sam.test@test.com")
    assert(out(0).getString(1) == "2001")
  }

  test("null email or birthDay rows are filtered (F1)") {
    import spark.implicits._
    val noEmail = """{"customerName":"X","phone":"1","birthDay":"1990-05-01"}"""
    val enc = Base64.getEncoder.encodeToString(noEmail.getBytes("UTF-8"))
    val raw = Seq(("k", redisValue(enc))).toDF("key", "value")
    assert(Stedi.customersWithBirthYear(raw).count() == 0)
  }

  test("customerRisk keeps score as STRING (reference parity)") {
    import spark.implicits._
    val raw = Seq(("k", riskJson)).toDF("key", "value")
    val out = Stedi.customerRisk(raw)
    assert(out.schema("score").dataType.typeName == "string")
    val row = out.collect()(0)
    assert(row.getString(0) == "sam.test@test.com")
    assert(row.getString(1) == "7.0")
  }

  test("batch pipeline joins risk with customers and emits the golden JSON contract") {
    import spark.implicits._
    val enc = Base64.getEncoder.encodeToString(customerJson.getBytes("UTF-8"))
    val redisRaw = Seq(("k", redisValue(enc))).toDF("key", "value")
    val riskRaw = Seq(("k", riskJson)).toDF("key", "value")
    val joined = Stedi.pipeline(redisRaw, riskRaw)
    val kafka = Stedi.toKafkaOutput(joined).collect()
    assert(kafka.length == 1)
    assert(kafka(0).getString(0) == "sam.test@test.com") // key = email
    val value = kafka(0).getString(1)
    // README.md:159-165 contract: customer, score, email, birthYear
    assert(value.contains(""""customer":"sam.test@test.com""""))
    assert(value.contains(""""score":"7.0""""))
    assert(value.contains(""""birthYear":"2001""""))
  }

  test("streaming pipeline: same transforms over MemoryStream, no watermark (J1)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val enc = Base64.getEncoder.encodeToString(customerJson.getBytes("UTF-8"))

    val redisIn = MemoryStream[(String, String)]
    val riskIn = MemoryStream[(String, String)]
    val redisRaw = redisIn.toDF().toDF("key", "value")
    val riskRaw = riskIn.toDF().toDF("key", "value")

    val out = Stedi.toKafkaOutput(Stedi.pipeline(redisRaw, riskRaw))
    assert(out.isStreaming)

    val query = out.writeStream
      .format("memory").queryName("stedi_out").outputMode("append").start()
    try {
      redisIn.addData(("k", redisValue(enc)))
      riskIn.addData(("k", riskJson))
      query.processAllAvailable()
      val rows = spark.table("stedi_out").collect()
      assert(rows.length == 1)
      assert(rows(0).getString(0) == "sam.test@test.com")
    } finally query.stop()
  }

  test("a file-source stream restarts from its checkpoint with the output of " +
      "an uninterrupted run, and refuses a corrupted state delta on its checksum") {
    import spark.implicits._
    val root = Files.createTempDirectory("stedi_ckpt")
    def customer(i: Int) = ("redis-server", "k", redisValue(Base64.getEncoder
      .encodeToString((s"""{"customerName":"C$i","email":"c$i@test.com",""" +
        s""""phone":"1","birthDay":"${1990 + i}-01-03"}""").getBytes("UTF-8"))))
    def risk(i: Int, score: Int) = ("stedi-events", "k",
      s"""{"customer":"c$i@test.com","score":$score.0,"riskDate":"2020-09-14T07:54:06.417Z"}""")
    // one slice per micro-batch; most matches join against earlier batches' state
    val slices = Seq(
      Seq(customer(0), risk(1, 3)), Seq(customer(1), risk(0, 5)),
      Seq(risk(2, 7), customer(3)), Seq(customer(2), risk(3, 9)),
      Seq(risk(0, 11), risk(1, 13)), Seq(customer(4), risk(4, 2)))
    val staged = slices.zipWithIndex.map { case (rows, i) =>
      val d = root.resolve(s"stage-$i")
      rows.toDF("topic", "key", "value").coalesce(1).write.parquet(d.toString)
      d.toFile.listFiles().find(_.getName.endsWith(".parquet")).get.toPath
    }
    val schema = slices.head.toDF("topic", "key", "value").schema

    /** Lands slices [from, until) into `src` one at a time, each as one
      * micro-batch (batch id = slice index); returns each batch's rows. */
    def run(src: String, from: Int, until: Int): Map[Long, Seq[String]] = {
      val out = scala.collection.concurrent.TrieMap.empty[Long, Seq[String]]
      val in = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      def topic(t: String) = in.filter(col("topic") === t).select("key", "value")
      val q = Stedi.toKafkaOutput(Stedi.pipeline(topic("redis-server"), topic("stedi-events")))
        .writeStream.option("checkpointLocation", s"$src-ckpt")
        .foreachBatch { (df: DataFrame, id: Long) =>
          out.put(id, df.collect().map(_.mkString("|")).toSeq.sorted); ()
        }.start()
      try (from until until).foreach { s =>
        val tmp = root.resolve(s"landing-$s")
        Files.copy(staged(s), tmp)
        Files.move(tmp, new java.io.File(src, f"slice-$s%02d.parquet").toPath,
          StandardCopyOption.ATOMIC_MOVE)
        val deadline = System.currentTimeMillis() + 120000
        while (!out.contains(s.toLong) && System.currentTimeMillis() < deadline)
          q.processAllAvailable()
        assert(out.contains(s.toLong), s"slice $s produced no micro-batch")
      } finally q.stop()
      out.toMap
    }

    val a = root.resolve("a").toString
    val b = root.resolve("b").toString
    Seq(a, b).foreach(new java.io.File(_).mkdirs())
    val uninterrupted = run(a, 0, 5)
    assert(uninterrupted.values.map(_.size).sum == 6, uninterrupted)
    val first = run(b, 0, 3)
    val restarted = run(b, 3, 5)
    assert(restarted.keySet == Set(3L, 4L), "the restart replayed or skipped a batch")
    assert(first ++ restarted == uninterrupted)

    val deltas = Files.walk(java.nio.file.Paths.get(s"$b-ckpt", "state")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".delta"))
    val victim = deltas.maxBy(Files.size(_))
    val bytes = Files.readAllBytes(victim)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x01).toByte
    Files.write(victim, bytes)
    val failed = intercept[Exception](run(b, 5, 6))
    val chain = Iterator.iterate[Throwable](failed)(_.getCause).takeWhile(_ != null)
      .map(e => s"${e.getClass.getName}: ${e.getMessage}").mkString(" | ")
    assert(chain.toLowerCase.contains("checksum"), chain)
  }
}
