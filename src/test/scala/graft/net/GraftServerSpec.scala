package graft.net

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.SparkSpec
import graft.config.PipelineConfig
import graft.operators.{ActionRegistry, GraftAction, IncrementalGraph}
import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

/** End-to-end protocol tests against the reference's own artifacts: the
  * pipeline is reactive_db/test_cfg.yaml, the legacy frames are a vendored
  * copy of reactive_db/test_requests.txt (the `test_requests.txt` test
  * resource) replayed byte-for-byte, and the listen cascade is the
  * reactivedb_rust_client usage_example.rs flow. */
class GraftServerSpec extends SparkSpec {
  private val mapper = new ObjectMapper()
  private val NilUuid = "00000000-0000-0000-0000-000000000000"

  // reactive_db/test_cfg.yaml, in this engine's config dialect
  private val yaml =
    """tables:
      |  - name: testTable
      |    kind: source
      |    columns: {testForIndex: Integer, testForIteration: Integer}
      |  - name: users
      |    kind: source
      |    columns: {name: Str, age: Integer}
      |  - name: grades
      |    kind: source
      |    columns: {name: Str, grade: Integer}
      |  - name: derived
      |    kind: function
      |    source_table: testTable
      |    functions: ["newColumn ~ testForIteration + 2"]
      |  - name: unionTest
      |    kind: union
      |    tables_and_foreign_keys: [[users, name], [grades, name]]
      |  - name: filterTest
      |    kind: filter
      |    source_table: testTable
      |    filter: "(testForIndex < 11) && (testForIteration > 14)"
      |  - name: aggregationTest
      |    kind: aggregation
      |    source_table: grades
      |    aggregated_column: name
      |    functions: ["count ~ memo.count + 1", "sum ~ memo.sum + grade", "average ~ memo.sum / memo.count"]
      |  - name: actionTest
      |    kind: action
      |    source_table: grades
      |    action: TestAction
      |""".stripMargin

  private def newServer(): GraftServer = {
    ActionRegistry.register(GraftAction("TestAction", identity))
    new GraftServer(new IncrementalGraph(spark, PipelineConfig.fromYaml(yaml)))
  }

  private final class WireClient(port: Int) {
    private val socket = new Socket("127.0.0.1", port)
    socket.setSoTimeout(60000)
    private val out = new DataOutputStream(socket.getOutputStream)
    private val in = new DataInputStream(socket.getInputStream)
    def sendRaw(payload: Array[Byte]): Unit = {
      out.writeInt(payload.length); out.write(payload); out.flush()
    }
    def send(json: String): Unit = sendRaw(json.getBytes(UTF_8))
    def recv(): JsonNode = {
      val size = in.readInt()
      val buf = new Array[Byte](size)
      in.readFully(buf)
      mapper.readTree(new String(buf, UTF_8))
    }
    /** Skip interleaved messages (e.g. Events vs RequestResponses) until
      * one matches. */
    def recvMatching(pred: JsonNode => Boolean, max: Int = 20): JsonNode = {
      var i = 0
      while (i < max) {
        val m = recv()
        if (pred(m)) return m
        i += 1
      }
      throw new AssertionError(s"no matching message in $max frames")
    }
    def sendCloseFrame(): Unit = { out.writeInt(0); out.flush() }
    def close(): Unit = try socket.close() catch { case _: Exception => () }
  }

  private def response(m: JsonNode): JsonNode = m.get("RequestResponse").get("response")

  test("replays reference test_requests.txt payloads byte-for-byte (legacy bare-Query frames)") {
    val server = newServer()
    val c = new WireClient(server.port)
    try {
      // file framing: [1-byte length][payload], frames separated by \n\n —
      // extract the payloads untouched and send them over the real 4-byte
      // BE wire framing (client_connection.rs:56-76)
      val bytes = {
        val in = getClass.getResourceAsStream("/test_requests.txt")
        assert(in != null, "test resource test_requests.txt missing")
        try in.readAllBytes() finally in.close()
      }
      val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      var i = 0
      while (i < bytes.length) {
        val len = bytes(i) & 0xff
        frames += java.util.Arrays.copyOfRange(bytes, i + 1, i + 1 + len)
        i += 1 + len
        while (i < bytes.length && bytes(i) == '\n') i += 1
      }
      assert(frames.length == 2)
      assert(new String(frames(0), UTF_8).startsWith("""{"InsertData""""))

      // frame 1: InsertData testTable {testForIndex:1, testForIteration:2}
      c.sendRaw(frames(0))
      val r1 = c.recv().get("RequestResponse")
      assert(r1.get("request_id").asText() == NilUuid)
      val committed = r1.get("response").get("ManyResults").get("Ok")
      // ALL committed edits come back (db_thread.rs:82-93): the source row
      // plus the cascaded FunctionTransform row in the `derived` table
      assert(committed.size() == 2)
      val entry = committed.get(0)
      assert(entry.get("testForIndex").get("Integer").asLong() == 1L)
      assert(entry.get("testForIteration").get("Integer").asLong() == 2L)
      // the engine stamps _entryId like the reference (constants.rs:2)
      assert(entry.has("_entryId"))
      val cascaded = committed.get(1)
      assert(cascaded.get("newColumn").get("Integer").asLong() == 4L)
      assert(cascaded.has("_sourceEntryId"))

      // frame 2: FindOne testTable testForIndex == 0 → no such row
      c.sendRaw(frames(1))
      val r2 = c.recv().get("RequestResponse")
      assert(r2.get("request_id").asText() == NilUuid)
      assert(r2.get("response").get("OneResult").get("Ok").isNull)

      // and the insert cascaded: the derived function table has the row
      c.send("""{"FindOne":{"table":"derived","column":"newColumn","key":{"Integer":4}}}""")
      val r3 = response(c.recv()).get("OneResult").get("Ok")
      assert(r3.get("newColumn").get("Integer").asLong() == 4L)
    } finally { c.close(); server.close() }
  }

  test("usage_example.rs flow: listen on the action table, insert cascade pushes an Event, range query") {
    val server = newServer()
    val c = new WireClient(server.port)
    try {
      // one connection, like the rust client: StartListen then queries —
      // the single dispatch thread serializes them in arrival order
      c.send("""{"StartListen":{"table_name":"actionTest","event":"Insert"}}""")
      c.send("""{"Query":{"request_id":"11111111-1111-1111-1111-111111111111","query":{"InsertData":{"table":"users","entry":{"age":{"Integer":22},"name":{"Str":"Alex"}}}}}}""")
      val rUsers = c.recvMatching(_.has("RequestResponse"))
      assert(rUsers.get("RequestResponse").get("request_id").asText()
        == "11111111-1111-1111-1111-111111111111")

      c.send("""{"Query":{"request_id":"22222222-2222-2222-2222-222222222222","query":{"InsertData":{"table":"grades","entry":{"grade":{"Integer":95},"name":{"Str":"Alex"}}}}}}""")
      // the grades insert cascades into actionTest → Event on this socket
      val ev = c.recvMatching(_.has("Event")).get("Event")
      assert(ev.get("table_name").asText() == "actionTest")
      assert(ev.get("event").asText() == "Insert")
      val evEntries = ev.get("value").get("ManyResults").get("Ok")
      assert(evEntries.size() == 1)
      assert(evEntries.get(0).get("name").get("Str").asText() == "Alex")
      assert(evEntries.get(0).get("grade").get("Integer").asLong() == 95L)
      c.recvMatching(m => m.has("RequestResponse") &&
        m.get("RequestResponse").get("request_id").asText().startsWith("22222222"))

      // GreaterThan(aggregationTest, sum, 0) — inclusive >=, reference quirk
      c.send("""{"Query":{"request_id":"33333333-3333-3333-3333-333333333333","query":{"GreaterThan":{"table":"aggregationTest","column":"sum","key":{"Integer":0}}}}}""")
      val agg = response(c.recvMatching(_.has("RequestResponse")))
        .get("ManyResults").get("Ok")
      assert(agg.size() == 1)
      assert(agg.get(0).get("sum").get("Integer").asLong() == 95L)
      assert(agg.get(0).get("count").get("Integer").asLong() == 1L)
    } finally { c.close(); server.close() }
  }

  test("wrapped query surface: GetAll, LessThan strict, GreaterThan inclusive, DeleteData cascade") {
    val server = newServer()
    val c = new WireClient(server.port)
    def query(id: String, q: String): JsonNode = {
      c.send(s"""{"Query":{"request_id":"$id","query":$q}}""")
      response(c.recvMatching(m => m.has("RequestResponse") &&
        m.get("RequestResponse").get("request_id").asText() == id))
    }
    try {
      query("00000000-0000-0000-0000-000000000001",
        """{"InsertData":{"table":"grades","entry":{"name":{"Str":"Ana"},"grade":{"Integer":80}}}}""")
      query("00000000-0000-0000-0000-000000000002",
        """{"InsertData":{"table":"grades","entry":{"name":{"Str":"Bo"},"grade":{"Integer":95}}}}""")

      val all = query("00000000-0000-0000-0000-000000000003",
        """{"GetAll":{"table":"grades","column":"name","key":{"Str":"Ana"}}}""")
        .get("ManyResults").get("Ok")
      assert(all.size() == 1 && all.get(0).get("grade").get("Integer").asLong() == 80L)

      // LessThan is STRICT: grade < 95 → only Ana
      val lt = query("00000000-0000-0000-0000-000000000004",
        """{"LessThan":{"table":"grades","column":"grade","key":{"Integer":95}}}""")
        .get("ManyResults").get("Ok")
      assert(lt.size() == 1 && lt.get(0).get("name").get("Str").asText() == "Ana")

      // GreaterThan is INCLUSIVE (btree.rs:208-213 quirk): >= 80 → both,
      // ascending key order
      val ge = query("00000000-0000-0000-0000-000000000005",
        """{"GreaterThan":{"table":"grades","column":"grade","key":{"Integer":80}}}""")
        .get("ManyResults").get("Ok")
      assert(ge.size() == 2)
      assert(ge.get(0).get("grade").get("Integer").asLong() == 80L)
      assert(ge.get(1).get("grade").get("Integer").asLong() == 95L)

      // DeleteData returns ALL deleted edits — the source row AND the
      // cascade-deleted aggregate/action rows (reference database.rs:197-270)
      val del = query("00000000-0000-0000-0000-000000000006",
        """{"DeleteData":{"table":"grades","column":"name","key":{"Str":"Ana"}}}""")
        .get("ManyResults").get("Ok")
      val delRows = (0 until del.size()).map(del.get)
      assert(delRows.exists(r => r.has("grade") && !r.has("count")
        && r.get("grade").get("Integer").asLong() == 80L), s"source row missing: $del")
      assert(delRows.exists(r => r.has("count")), s"cascaded aggregate delete missing: $del")
      val after = query("00000000-0000-0000-0000-000000000007",
        """{"GetAll":{"table":"aggregationTest","column":"aggregatedColumn","key":{"Str":"Ana"}}}""")
        .get("ManyResults").get("Ok")
      assert(after.size() == 0)
    } finally { c.close(); server.close() }
  }

  test("errors answer the client instead of killing the server") {
    val server = newServer()
    val c = new WireClient(server.port)
    try {
      // unknown column → reference-parity hard error, delivered as Err
      c.send("""{"FindOne":{"table":"grades","column":"nope","key":{"Integer":1}}}""")
      val e1 = response(c.recv()).get("OneResult").get("Err")
      assert(e1.asText().contains("No such column"))
      // unknown table on a listen → Err event, not a dispatch-thread panic
      c.send("""{"StartListen":{"table_name":"nope","event":"Insert"}}""")
      val ev = c.recvMatching(_.has("Event")).get("Event")
      assert(ev.get("value").get("ManyResults").get("Err").asText().nonEmpty)
      // the connection and server still work
      c.send("""{"GetAll":{"table":"grades","column":"name","key":{"Str":"x"}}}""")
      assert(response(c.recv()).get("ManyResults").get("Ok").size() == 0)
    } finally { c.close(); server.close() }
  }

  private def insertGrade(c: WireClient, name: String, grade: Int): Unit = {
    c.send(s"""{"InsertData":{"table":"grades","entry":{"name":{"Str":"$name"},"grade":{"Integer":$grade}}}}""")
    assert(response(c.recv()).get("ManyResults").has("Ok"))
  }

  test("a result over maxResultRows answers Err; the server keeps serving") {
    val server = newServer()
    val c = new WireClient(server.port)
    try {
      Seq("a" -> 1, "b" -> 2, "c" -> 3).foreach { case (n, g) => insertGrade(c, n, g) }
      server.maxResultRows = 2
      c.send("""{"GreaterThan":{"table":"grades","column":"grade","key":{"Integer":0}}}""")
      val e = response(c.recv()).get("ManyResults").get("Err")
      assert(e != null && e.asText().contains("maxResultRows=2"), s"expected a cap error, got $e")
      // exactly at the cap still answers
      c.send("""{"GreaterThan":{"table":"grades","column":"grade","key":{"Integer":2}}}""")
      val ok = response(c.recv()).get("ManyResults").get("Ok")
      assert(ok.size() == 2)
      c.send("""{"FindOne":{"table":"grades","column":"name","key":{"Str":"b"}}}""")
      assert(response(c.recv()).get("OneResult").get("Ok").get("grade").get("Integer").asLong() == 2L)
    } finally { c.close(); server.close() }
  }

  test("LessThan over a many-partition table stays ascending") {
    val server = newServer()
    val c = new WireClient(server.port)
    try {
      // descending arrival: every insert appends a partition, so the
      // ascending answer has to come from the sort, not arrival order
      val grades = (12 to 1 by -1).map(_ * 7 % 13)
      grades.zipWithIndex.foreach { case (g, i) => insertGrade(c, s"n$i", g) }
      assert(server.graph.table("grades").rdd.getNumPartitions > 1)
      c.send("""{"LessThan":{"table":"grades","column":"grade","key":{"Integer":100}}}""")
      val lt = response(c.recv()).get("ManyResults").get("Ok")
      val got = (0 until lt.size()).map(i => lt.get(i).get("grade").get("Integer").asLong())
      assert(got == grades.sorted.map(_.toLong))
    } finally { c.close(); server.close() }
  }

  test("zero-length frame closes the connection; the server keeps serving") {
    val server = newServer()
    val c1 = new WireClient(server.port)
    try {
      c1.sendCloseFrame() // client_connection.rs:63-64
      val c2 = new WireClient(server.port)
      try {
        c2.send("""{"GetAll":{"table":"users","column":"name","key":{"Str":"x"}}}""")
        assert(response(c2.recv()).get("ManyResults").get("Ok").size() == 0)
      } finally c2.close()
    } finally { c1.close(); server.close() }
  }
}
