package graft.net

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.ListenEvent
import graft.operators.{IncrementalGraph, QueryService}
import graft.sources.TaggedJson
import org.apache.spark.sql.DataFrame
import java.io.{BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.net.{ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID
import java.util.concurrent.LinkedBlockingQueue

/** TCP tagged-JSON network façade — the reference's only network ingress
  * (reference: reactive_db/src/networking/client_connection.rs:56-76,
  * server.rs:28-50, dispatch db_thread.rs:52-113), fronting an
  * [[IncrementalGraph]] so every reference client (reactivedb_rust_client/
  * src/client.rs:47-65, reactive_db_python_client/client.py:18-44) can speak
  * to the Spark engine unchanged.
  *
  * Wire format: 4-byte big-endian length + UTF-8 JSON frame, both ways.
  * A zero-length frame closes the connection (client_connection.rs:63-64).
  *
  * Requests (`DBRequest`, externally tagged like serde):
  *   - `{"Query":{"request_id":"<uuid>","query":{<Query>}}}`
  *   - `{"StartListen":{"table_name":"t","event":"Insert"|"Delete"}}`
  *   - legacy bare `Query` frames with no wrapper/request_id (the shape in
  *     reactive_db/test_requests.txt:1-3) are accepted and answered with
  *     the nil UUID as request_id.
  *
  * Query variants (network_types.rs:58-81): FindOne | LessThan | GetAll |
  * GreaterThan (inclusive >=, the reference's btree quirk — QueryService) |
  * InsertData | DeleteData. Keys and entries use the tagged encoding
  * ([[TaggedJson]], e.g. `{"Integer": 5}`).
  *
  * Responses (`ToClientMessage`):
  *   - `{"RequestResponse":{"request_id":id,"response":<DBResponse>}}`
  *   - `{"Event":{"table_name":t,"event":e,"value":<DBResponse>}}` pushed
  *     per committed edit to StartListen subscribers, value =
  *     ManyResults(Ok(entries)) exactly like the reference's ListenerHook
  *     (listener_hook.rs:56-87).
  *   - `DBResponse` mirrors serde's Result encoding:
  *     `{"ManyResults":{"Ok":[entry…]}}` / `{"OneResult":{"Ok":entry|null}}`
  *     / `{"…":{"Err":"message"}}`.
  *
  * Threading mirrors the reference: one dispatch thread owns the graph
  * (db_thread.rs serializes every query through one thread), a reader and
  * a writer thread per connection (client_connection.rs:10-25). Requests
  * across connections execute in arrival order; per-connection response
  * order is preserved by the writer queue.
  *
  * Scale note: this façade is the reference-parity POINT-QUERY surface
  * (find/range/insert/delete/listen on graph tables) — results stream to
  * the façade via toLocalIterator and a batch beyond [[maxResultRows]]
  * fails that request loudly rather than buffering a cluster's output in
  * the server heap. Bulk analytics belong on the DataFrame surface, not
  * behind a socket.
  *
  * Divergences from the reference, on purpose: a malformed frame or an
  * unknown listen table answers that CLIENT with an Err instead of
  * panicking the whole db thread (client_connection.rs:74, db_thread.rs:123
  * crash the process). InsertData/DeleteData respond with ALL committed
  * edits — source plus cascaded derived rows, like the reference
  * (db_thread.rs:82-104) — with one rendering nuance: an aggregation
  * upsert (Update = delete old + insert new) surfaces as its new row in an
  * InsertData response and its removed rows in a DeleteData response;
  * both sides of every edit stream to StartListen subscribers.
  */
final class GraftServer(val graph: IncrementalGraph, requestedPort: Int = 0) {
  private val mapper = new ObjectMapper()
  private val queries = new QueryService(graph.table _)
  private val NilUuid = "00000000-0000-0000-0000-000000000000"

  /** Per-request cap on rows handed from the cluster to the façade. */
  @volatile var maxResultRows: Int = 1 << 20

  @volatile private var running = true
  private val serverSocket = new ServerSocket(requestedPort)
  /** Bound port (pass requestedPort=0 for an ephemeral test port). */
  def port: Int = serverSocket.getLocalPort

  private object PoisonPill
  private final class Client(val id: UUID, val socket: Socket) {
    val out = new LinkedBlockingQueue[AnyRef]()
    def send(message: JsonNode): Unit = out.put(mapper.writeValueAsString(message))
    def close(): Unit = { out.put(PoisonPill); try socket.close() catch { case _: Exception => } }
  }

  private val clients = java.util.concurrent.ConcurrentHashMap.newKeySet[Client]()
  private val dispatchQueue = new LinkedBlockingQueue[(Client, JsonNode)]()

  private def thread(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t.start()
    t
  }

  private val dispatchThread = thread("graft-net-dispatch") {
    try while (running) {
      val (client, root) = dispatchQueue.take()
      try dispatch(client, root)
      catch { case e: Exception => System.err.println(s"[graft-net] dropped bad frame: $e") }
    } catch { case _: InterruptedException => }
  }

  private val acceptThread = thread("graft-net-accept") {
    try while (running) {
      val socket = serverSocket.accept()
      val client = new Client(UUID.randomUUID(), socket)
      clients.add(client)
      startWriter(client)
      startReader(client)
    } catch { case _: SocketException => /* close() */ }
  }

  private def startWriter(client: Client): Unit = thread(s"graft-net-writer-${client.id}") {
    val w = new DataOutputStream(new BufferedOutputStream(client.socket.getOutputStream))
    var live = true
    try while (live) client.out.take() match {
      case PoisonPill => live = false
      case payload: String =>
        val bytes = payload.getBytes(UTF_8)
        w.writeInt(bytes.length) // DataOutputStream is big-endian, like the wire
        w.write(bytes)
        w.flush()
    } catch { case _: Exception => /* connection gone */ }
  }

  private def startReader(client: Client): Unit = thread(s"graft-net-reader-${client.id}") {
    val in = new DataInputStream(client.socket.getInputStream)
    var live = true
    try while (live) {
      val size = in.readInt()
      if (size == 0) { client.close(); clients.remove(client); live = false }
      else {
        val buf = new Array[Byte](size)
        in.readFully(buf)
        dispatchQueue.put((client, mapper.readTree(new String(buf, UTF_8))))
      }
    } catch {
      case _: EOFException | _: SocketException =>
        client.close(); clients.remove(client)
    }
  }

  // ── dispatch (db_thread.rs:52-113) ────────────────────────────────────

  private val queryKinds =
    Set("FindOne", "LessThan", "GetAll", "GreaterThan", "InsertData", "DeleteData")

  private def dispatch(client: Client, root: JsonNode): Unit = {
    val fields = root.properties().iterator()
    if (!fields.hasNext) return
    val top = fields.next()
    top.getKey match {
      case "Query" =>
        val requestId = top.getValue.get("request_id").asText()
        val q = top.getValue.get("query").properties().iterator().next()
        client.send(requestResponse(requestId, handleQuery(q.getKey, q.getValue)))
      case "StartListen" =>
        val table = top.getValue.get("table_name").asText()
        val event = top.getValue.get("event").asText()
        startListen(client, table, event)
      case legacy if queryKinds(legacy) =>
        // bare Query frame (test_requests.txt:1-3 shape, no request_id)
        client.send(requestResponse(NilUuid, handleQuery(legacy, top.getValue)))
      case other =>
        System.err.println(s"[graft-net] unknown request kind: $other")
    }
  }

  private def handleQuery(kind: String, body: JsonNode): ObjectNode = {
    def table = body.get("table").asText()
    def column = body.get("column").asText()
    def key = TaggedJson.parseValue(body.get("key"))
    kind match {
      case "FindOne" => oneResult(entriesOf(queries.findOne(table, column, key)).headOption)
      case "LessThan" => manyResults(entriesOf(queries.lessThan(table, column, key)))
      case "GreaterThan" => manyResults(entriesOf(queries.greaterThan(table, column, key)))
      case "GetAll" => manyResults(entriesOf(queries.getAll(table, column, key)))
      case "InsertData" =>
        // all committed edits, source + cascaded (db_thread.rs:82-93);
        // upsert Updates surface as their inserted (new) row
        manyResults {
          val (schema, row) = TaggedJson.parseEntry(mapper.writeValueAsString(body.get("entry")))
          val df = graph.spark.createDataFrame(java.util.Arrays.asList(row), schema)
          graph.insertWithEdits(table, df).flatMap { case (_, ins, _) => entriesOf(ins) }
        }
      case "DeleteData" =>
        // all deleted entries, source + cascaded (database.rs:197-270)
        manyResults(
          graph.deleteWithEdits(table, column, key).flatMap { case (_, _, del) => entriesOf(del) })
    }
  }

  private def startListen(client: Client, table: String, event: String): Unit = {
    // event values are DBResponse::ManyResults like the reference's
    // ListenerHook (listener_hook.rs:75-80)
    def errValue(message: String): ObjectNode = {
      val n = mapper.createObjectNode()
      n.set[ObjectNode]("ManyResults", err(message))
      n
    }
    val kind = event match {
      case "Insert" => ListenEvent.Insert
      case "Delete" => ListenEvent.Delete
      case other =>
        client.send(eventMessage(table, event, errValue(s"unknown listen event: $other")))
        return
    }
    try graph.listen(table, kind) { (ins, del) =>
      val df = if (kind == ListenEvent.Insert) ins else del
      client.send(eventMessage(table, event, manyResults(entriesOf(df))))
    } catch {
      // unknown table: tell the subscribing client instead of panicking the
      // dispatch thread (the reference's db_thread.rs:123 crashes here)
      case e: Exception => client.send(eventMessage(table, event, errValue(e.getMessage)))
    }
  }

  // ── result rendering ──────────────────────────────────────────────────

  /** Stream rows off the cluster with the same bounded, loud hand-off as
    * the streaming listen path; entries use the tagged encoding with nulls
    * omitted (the reference's sparse entries).
    *
    * The frame is limited to one row past the cap before it is iterated:
    * a root limit plans as CollectLimit (unsorted frames) or
    * TakeOrderedAndProject (the ascending range results), both of which
    * funnel every partition through one single-partition exchange, so a
    * frame renders in ONE Spark job. A bare `toLocalIterator` runs one
    * job per partition, and materialized tables gain a partition per
    * insert. */
  private def entriesOf(df: DataFrame): Seq[String] = {
    val schema = df.schema
    val limit = maxResultRows
    val it = df.limit(if (limit == Int.MaxValue) limit else limit + 1).toLocalIterator()
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      buf += TaggedJson.toTaggedJson(it.next(), schema)
      if (buf.length > limit)
        throw new IllegalStateException(
          s"result exceeded maxResultRows=$limit; narrow the query or raise the cap")
    }
    buf.toSeq
  }

  private def err(message: String): JsonNode = {
    val n = mapper.createObjectNode()
    n.put("Err", if (message == null) "error" else message)
    n
  }

  private def okMany(entries: Seq[String]): JsonNode = {
    val ok = mapper.createObjectNode()
    val arr = ok.putArray("Ok")
    entries.foreach(e => arr.add(mapper.readTree(e)))
    ok
  }

  private def wrap(variant: String)(body: => JsonNode): ObjectNode = {
    val n = mapper.createObjectNode()
    n.set[ObjectNode](variant,
      try body
      catch { case e: Exception => err(e.getMessage) })
    n
  }

  private def manyResults(entries: => Seq[String]): ObjectNode =
    wrap("ManyResults")(okMany(entries))

  private def oneResult(entry: => Option[String]): ObjectNode =
    wrap("OneResult") {
      val ok = mapper.createObjectNode()
      entry match {
        case Some(e) => ok.set[ObjectNode]("Ok", mapper.readTree(e))
        case None    => ok.putNull("Ok")
      }
      ok
    }

  private def requestResponse(requestId: String, response: ObjectNode): JsonNode = {
    val n = mapper.createObjectNode()
    val rr = n.putObject("RequestResponse")
    rr.put("request_id", requestId)
    rr.set[ObjectNode]("response", response)
    n
  }

  private def eventMessage(table: String, event: String, value: JsonNode): JsonNode = {
    val n = mapper.createObjectNode()
    val ev = n.putObject("Event")
    ev.put("table_name", table)
    ev.put("event", event)
    ev.set[ObjectNode]("value", value)
    n
  }

  /** Stop accepting, drop every connection, stop the dispatch thread. */
  def close(): Unit = {
    running = false
    try serverSocket.close() catch { case _: Exception => }
    clients.forEach(_.close())
    clients.clear()
    dispatchThread.interrupt()
  }
}
