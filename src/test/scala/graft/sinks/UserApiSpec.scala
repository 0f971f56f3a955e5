package graft.sinks

import java.net.{HttpURLConnection, URI}
import scala.io.Source

import graft.SparkSpec

/** Real HTTP CRUD round-trips against the registry server: create, read,
  * bulk, temporary-with-TTL, delete, durability across a server restart
  * (the mutation log is the state), and the error paths. Mirrors the
  * reference surface (repo-account UserApi.scala:31-80). */
class UserApiSpec extends SparkSpec {
  import spark.implicits._

  private def req(method: String, url: String, body: Option[String] = None): (Int, String) = {
    val conn = new URI(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    body.foreach { b =>
      conn.setDoOutput(true)
      val os = conn.getOutputStream
      try os.write(b.getBytes("UTF-8")) finally os.close()
    }
    val code = conn.getResponseCode
    val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val out = Option(stream).map { s =>
      try Source.fromInputStream(s, "UTF-8").mkString finally s.close()
    }.getOrElse("")
    (code, out)
  }

  private def base = Seq(
    ("P-1", "alice", "alice@example.com", false),
    ("P-2", "bob", "bob@example.com", true))
    .toDF("u_plate", "username", "email", "handicapped")

  "UserApi" should "serve the full CRUD lifecycle over the CDC log" in {
    val logDir = tempDir("graft-userlog").toString
    var now = 1000L
    val server = UserApi.start(spark, base, logDir, clock = () => now)
    try {
      val root = s"http://127.0.0.1:${server.getAddress.getPort}"

      // read: the base shows through an empty log
      req("GET", s"$root/account")._2.split("\n").length shouldBe 2
      val (c1, b1) = req("GET", s"$root/account/P-2")
      c1 shouldBe 200
      b1 should include(""""username":"bob"""")

      // create (insert a NEW plate) and update (overwrite an existing one)
      req("POST", s"$root/account",
        Some("""{"u_plate":"P-9","username":"carol","email":"carol@x.io","handicapped":false}"""))
        ._1 shouldBe 201
      req("POST", s"$root/account",
        Some("""{"u_plate":"P-1","username":"alice","email":"new@x.io","handicapped":false}"""))
        ._1 shouldBe 201
      req("GET", s"$root/account/P-9")._1 shouldBe 200
      req("GET", s"$root/account/P-1")._2 should include(""""email":"new@x.io"""")

      // bulk: two users in one request
      req("POST", s"$root/account/bulk", Some(
        """{"u_plate":"P-10","username":"dan","email":"d@x.io","handicapped":false}
          |{"u_plate":"P-11","username":"eve","email":"e@x.io","handicapped":true}""".stripMargin))
        ._2 shouldBe """{"created":2}"""
      req("GET", s"$root/account")._2.split("\n").length shouldBe 5

      // temporary user: visible until the clock passes its TTL
      req("POST", s"$root/account/tmp?ttl=50",
        Some("""{"u_plate":"P-tmp","username":"t","email":"t@x.io","handicapped":false}"""))
        ._1 shouldBe 201
      req("GET", s"$root/account/P-tmp")._1 shouldBe 200
      now += 60
      req("GET", s"$root/account/P-tmp")._1 shouldBe 404

      // delete: tombstone wins over base and earlier upserts; idempotence
      // is a 404 (the reference's deleteUser returns false → NotFound)
      req("DELETE", s"$root/account/P-1")._1 shouldBe 204
      req("GET", s"$root/account/P-1")._1 shouldBe 404
      req("DELETE", s"$root/account/P-1")._1 shouldBe 404

      // error paths: malformed JSON body, bad ttl, multi-line single POST
      req("POST", s"$root/account", Some("not json"))._1 shouldBe 400
      req("POST", s"$root/account/tmp?ttl=abc",
        Some("""{"u_plate":"P-x","username":"x","email":"x","handicapped":false}"""))
        ._1 shouldBe 400
      req("POST", s"$root/account", Some(
        """{"u_plate":"P-a","username":"a","email":"a","handicapped":false}
          |{"u_plate":"P-b","username":"b","email":"b","handicapped":false}""".stripMargin))
        ._1 shouldBe 400
      // non-positive ttl would create an already-expired (instant-404)
      // user; ttl on a PERMANENT create would be silently dropped — both
      // are caller bugs and both reject
      val tmpUser = """{"u_plate":"P-x","username":"x","email":"x","handicapped":false}"""
      req("POST", s"$root/account/tmp?ttl=0", Some(tmpUser))._1 shouldBe 400
      req("POST", s"$root/account/tmp?ttl=-5", Some(tmpUser))._1 shouldBe 400
      req("POST", s"$root/account?ttl=50", Some(tmpUser))._1 shouldBe 400
      req("POST", s"$root/account/bulk?ttl=50", Some(tmpUser))._1 shouldBe 400
      req("GET", s"$root/account/P-x")._1 shouldBe 404 // none of those landed
    } finally server.stop(0)

    // durability: a NEW server over the same log dir sees the same state
    // and continues the mutation order (update after restart still wins)
    val server2 = UserApi.start(spark, base, logDir, clock = () => now)
    try {
      val root = s"http://127.0.0.1:${server2.getAddress.getPort}"
      req("GET", s"$root/account/P-1")._1 shouldBe 404 // tombstone persisted
      req("GET", s"$root/account/P-9")._1 shouldBe 200
      req("POST", s"$root/account",
        Some("""{"u_plate":"P-9","username":"carol","email":"after@x.io","handicapped":false}"""))
        ._1 shouldBe 201
      req("GET", s"$root/account/P-9")._2 should include("after@x.io")
    } finally server2.stop(0)
  }

  it should "refuse to start over a log dir another writer owns" in {
    // a foreign writer (here: a raw channel lock standing in for another
    // process) owns the dir — starting a server against it must fail
    // fast, not mint colliding mut_seq values
    val logDir = tempDir("graft-lockedlog")
    val ch = java.nio.channels.FileChannel.open(
      logDir.resolve(".writer.lock"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    val lock = ch.lock()
    try {
      an[IllegalStateException] should be thrownBy
        UserApi.start(spark, base, logDir.toString)
    } finally { lock.release(); ch.close() }
  }

  "UserRegistry.compactInto" should "fold the log into a snapshot that serves the same registry" in {
    import graft.sources.UserRegistry
    val logDir = tempDir("graft-complog").toString
    UserRegistry.appendLog(logDir, Seq(
      """{"u_plate":"P-1","username":"alice","email":"new@x.io","handicapped":false,"op":"upsert","mut_seq":1,"expires_at":null}""",
      """{"u_plate":"P-2","username":null,"email":null,"handicapped":null,"op":"delete","mut_seq":2,"expires_at":null}""",
      """{"u_plate":"P-7","username":"gus","email":"g@x.io","handicapped":true,"op":"upsert","mut_seq":3,"expires_at":500}"""))
    val log = UserRegistry.readLog(spark, logDir)
    val out = tempDir("graft-compout").toString + "/snap"
    UserRegistry.compactInto(base, log, nowEpochS = 1000L, out)
    // the snapshot over an EMPTY log serves exactly what the live
    // base+log view served: update applied, tombstone gone, expired gone
    val emptyLog = UserRegistry.readLog(spark, tempDir("graft-none").toString)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.drop("version").collect().map(_.toSeq).toSet
    val compacted = rows(UserRegistry.view(spark.read.parquet(out), emptyLog, 1000L))
    compacted shouldBe rows(UserRegistry.view(base, log, 1000L))
    compacted.map(_.head) shouldBe Set("P-1") // P-2 deleted, P-7 expired
  }
}
