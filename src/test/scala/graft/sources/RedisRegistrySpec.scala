package graft.sources

import java.net.SocketTimeoutException

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.sinks.{FakeRedis, RedisKeyValueSink, Resp}

/** The Redis read-back loader (reference UserService.getAllUsers:
  * keys → get → permissive parse) against a loopback fake server — plus
  * the full write/read round trip through [[RedisKeyValueSink]], which
  * also upgrades that sink from encoder-only coverage to a real socket
  * conversation. */
class RedisRegistrySpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  "Resp.readReply" should "decode every RESP2 reply type" in {
    val wire = "+OK\r\n-ERR boom\r\n:42\r\n$3\r\nabc\r\n$-1\r\n" +
      "*3\r\n$1\r\na\r\n:7\r\n*1\r\n$0\r\n\r\n"
    val in = new java.io.ByteArrayInputStream(wire.getBytes("UTF-8"))
    Resp.readReply(in) shouldBe Resp.Simple("OK")
    Resp.readReply(in) shouldBe Resp.Err("ERR boom")
    Resp.readReply(in) shouldBe Resp.Num(42L)
    Resp.readReply(in) shouldBe Resp.Bulk(Some("abc"))
    Resp.readReply(in) shouldBe Resp.Bulk(None)
    Resp.readReply(in) shouldBe Resp.Arr(Seq(
      Resp.Bulk(Some("a")), Resp.Num(7L), Resp.Arr(Seq(Resp.Bulk(Some(""))))))
  }

  it should "decode multi-byte UTF-8 in simple-string and error lines" in {
    // é = 0xC3 0xA9 — byte-wise toChar decoding garbles this
    val wire = "+café\r\n-ERR clé mauvaise\r\n$5\r\ncafé\r\n".getBytes("UTF-8")
    val in = new java.io.ByteArrayInputStream(wire)
    Resp.readReply(in) shouldBe Resp.Simple("café")
    Resp.readReply(in) shouldBe Resp.Err("ERR clé mauvaise")
    Resp.readReply(in) shouldBe Resp.Bulk(Some("café"))
  }

  "RedisRegistry.globEscape" should "make glob metacharacters match literally" in {
    RedisRegistry.globEscape("user:") shouldBe "user:"
    RedisRegistry.globEscape("user[1]:") shouldBe "user\\[1]:"
    RedisRegistry.globEscape("a*b?c\\d") shouldBe "a\\*b\\?c\\\\d"
  }

  it should "keep a metacharacter prefix from matching unintended keys over the wire" in {
    val redis = new FakeRedis
    try {
      redis.store.put("user[1]:a", "va")
      redis.store.put("user[1]:b", "vb")
      // keys a bare `user[1]:*` glob would ALSO match ([1] as a class)
      redis.store.put("user1:x", "bad")
      val vals = RedisRegistry.scanValues("127.0.0.1", redis.port, "user[1]:")
      vals.sortBy(_._1) shouldBe Seq("user[1]:a" -> "va", "user[1]:b" -> "vb")
    } finally redis.stop()
  }

  "RedisRegistry.loadUsers" should "scan only the prefix, skipping corrupt, empty and incomplete values" in {
    val redis = new FakeRedis
    try {
      redis.store.put("user:P-1",
        """{"u_plate":"P-1","username":"alice","email":"a@x.io","handicapped":false}""")
      redis.store.put("user:P-2",
        """{"u_plate":"P-2","username":"bob","email":"b@x.io","handicapped":true}""")
      redis.store.put("user:bad-json", """{"u_plate": not json at all""")
      redis.store.put("user:empty", "")
      // missing required field (no email) — circe/play would fail
      // validation, the reference's safeParseJson skips it
      redis.store.put("user:partial", """{"u_plate":"P-7","username":"eve","handicapped":false}""")
      redis.store.put("session:xyz", """{"u_plate":"GHOST","username":"g","email":"g@x.io","handicapped":false}""")
      // small COUNT forces multiple SCAN pages
      val got = RedisRegistry.loadUsers(spark, "127.0.0.1", redis.port,
        schema = RedisRegistry.userSchema)
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getBoolean(3)))
        .sortBy(_._1)
      got shouldBe Array(
        ("P-1", "alice", "a@x.io", false),
        ("P-2", "bob", "b@x.io", true))
    } finally redis.stop()
  }

  it should "page through SCAN cursors (small COUNT) and chunk MGET" in {
    val redis = new FakeRedis
    try {
      (1 to 57).foreach(i => redis.store.put(f"user:P-$i%03d",
        s"""{"u_plate":"P-$i","username":"u$i","email":"u$i@x.io","handicapped":false}"""))
      redis.store.put("other:k", "{}")
      val vals = RedisRegistry.scanValues("127.0.0.1", redis.port, "user:", scanCount = 7)
      vals.length shouldBe 57
      vals.map(_._1).distinct.length shouldBe 57
      all(vals.map(_._1)) should startWith("user:")
    } finally redis.stop()
  }

  "RedisRegistry.loadUsersSharded" should "equal the unsharded load over >= 4 prefix shards" in {
    val redis = new FakeRedis
    try {
      // zero-padded ids: "P-0".."P-5" partition the keyspace cleanly
      (1 to 57).foreach(i => redis.store.put(f"user:P-$i%03d",
        s"""{"u_plate":"P-$i","username":"u$i","email":"u$i@x.io","handicapped":${i % 2 == 0}}"""))
      redis.store.put("user:P-0xx", """not json — must be skipped by BOTH paths""")
      redis.store.put("other:k", """{"u_plate":"X","username":"x","email":"x@x.io","handicapped":false}""")
      val whole = RedisRegistry.loadUsers(spark, "127.0.0.1", redis.port)
        .collect().map(_.toSeq).sortBy(_.toString)
      val sharded = RedisRegistry.loadUsersSharded(spark, "127.0.0.1", redis.port,
          shardSuffixes = Seq("P-00", "P-01", "P-02", "P-03", "P-04", "P-05", "P-0x"))
        .collect().map(_.toSeq).sortBy(_.toString)
      whole.length shouldBe 57
      sharded shouldBe whole
    } finally redis.stop()
  }

  it should "round-trip the p85 registry view through RedisKeyValueSink and back" in {
    // the VERDICT's day-one migration path: write the merged registry to
    // Redis with the engine's sink, read it back with the loader, land on
    // the exact same DataFrame as the p85 CDC-merge view
    val base = UserRegistry.baseUsers(spark, sfDir)
    val log = spark.read.schema(UserRegistry.mutationSchema).json(Seq(
      """{"u_plate":"P-1","username":"alice","email":"new@x.io","handicapped":false,"op":"upsert","mut_seq":1,"expires_at":null}""",
      """{"u_plate":"P-2","username":"bob","email":"tmp@x.io","handicapped":true,"op":"upsert","mut_seq":2,"expires_at":900}""",
      """{"u_plate":"P-8","username":null,"email":null,"handicapped":null,"op":"delete","mut_seq":3,"expires_at":null}""").toDS)
    val view = UserRegistry.view(base, log, nowEpochS = 1000L)

    val redis = new FakeRedis
    try {
      val viewSchema = StructType(Seq(
        StructField("u_plate", StringType), StructField("username", StringType),
        StructField("email", StringType), StructField("handicapped", BooleanType),
        StructField("version", LongType)))
      // distributed write path: executor-side connections via
      // foreachPartition, exactly the sink's production shape
      val port = redis.port
      view.select(col("u_plate"),
          to_json(struct(viewSchema.fieldNames.map(col).toSeq: _*)).as("json"))
        .foreachPartition { (rows: Iterator[Row]) =>
          val sink = new RedisKeyValueSink("127.0.0.1", port)
          rows.foreach(r => sink.put(s"user:${r.getString(0)}", r.getString(1)))
        }
      val back = RedisRegistry.loadUsers(spark, "127.0.0.1", port,
        schema = viewSchema, required = Seq("u_plate", "username", "email"))
      back.count() shouldBe view.count()
      back.orderBy("u_plate").collect().toSeq shouldBe view.collect().toSeq
    } finally redis.stop()
  }

  "RedisRegistry.scanValues" should "fail within its timeout when the server never answers" in {
    FakeRedis.withStalledServer { port =>
      val t0 = System.nanoTime()
      a[SocketTimeoutException] should be thrownBy
        RedisRegistry.scanValues("127.0.0.1", port, "user:")
      val waitedMs = (System.nanoTime() - t0) / 1e6
      waitedMs should be >= (RedisKeyValueSink.TimeoutMs * 0.9)
      waitedMs should be < (RedisKeyValueSink.TimeoutMs * 3.0)
    }
  }
}
