package graft.catalog

import java.io.{ByteArrayOutputStream, InputStream}
import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.net.{HttpURLConnection, InetSocketAddress, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.{Connection, DatabaseMetaData, PreparedStatement, ResultSet, SQLException, Statement}
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** HTTP catalog transport — the Spark-side analog of the reference's
  * "quack" metadata backend (quack_metadata_manager.cpp:16-32), where
  * metadata SQL does not run against a locally-attached database but is
  * shipped to a catalog service and executed there. Here the service is
  * [[HttpCatalogServer]] (JDK built-in HttpServer fronting any JDBC
  * catalog — Derby in the sandbox, Postgres in a real deployment) and the
  * client is a `java.sql.Connection` facade ([[HttpCatalogClient]]), so
  * [[MetadataManager]] runs unchanged over `http://` catalog URLs: same
  * SQL, same transactions, same optimistic-commit retry (SQLSTATEs
  * round-trip through the wire). Data files never pass through this
  * channel — like the reference, only metadata does.
  *
  * Wire shape: one endpoint, JSON ops (`session`/`query`/`exec`/`batch`/
  * `meta_tables`/`meta_columns`/`commit`/`rollback`/`close`). Values are
  * `[tag, value]` pairs (L long, D double, S string, B bool, N null) in
  * both directions. Connection-level failures retry 5× like the
  * reference's quack client ("Couldn't connect" loop,
  * quack_metadata_manager.cpp:40-52); SQL errors carry their SQLSTATE so
  * [[CatalogDialect.isConflictState]] drives the same commit retry as a
  * direct connection.
  */
object HttpCatalogCodec {
  val mapper = new ObjectMapper()

  def encodeValue(v: Any): java.util.List[Any] = v match {
    case null => java.util.List.of("N")
    case b: java.lang.Boolean => java.util.List.of("B", b)
    case d: java.lang.Double => java.util.List.of("D", d)
    case f: java.lang.Float => java.util.List.of("D", Double.box(f.toDouble))
    case bd: java.math.BigDecimal =>
      java.util.List.of("D", Double.box(bd.doubleValue()))
    case n: java.lang.Number => java.util.List.of("L", Long.box(n.longValue()))
    case s: String => java.util.List.of("S", s)
    case other => java.util.List.of("S", String.valueOf(other))
  }

  def decodeValue(pair: java.util.List[_]): Any = pair.get(0) match {
    case "N" => null
    case "B" => Boolean.box(pair.get(1).asInstanceOf[java.lang.Boolean])
    case "D" => Double.box(pair.get(1).asInstanceOf[Number].doubleValue())
    case "L" => Long.box(pair.get(1).asInstanceOf[Number].longValue())
    case "S" => pair.get(1).asInstanceOf[String]
    case t => throw new IllegalArgumentException(s"bad value tag $t")
  }
}

/** Catalog service: binds 127.0.0.1 only, holds one real JDBC connection
  * per client session (autocommit off — the client drives
  * commit/rollback), and executes shipped SQL verbatim. */
class HttpCatalogServer(backingJdbcUrl: String, port: Int = 0) {
  import HttpCatalogCodec._

  private val backingDialect = CatalogDialect.forUrl(backingJdbcUrl)
  private val sessions = new ConcurrentHashMap[String, Connection]()
  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  private val pool = Executors.newFixedThreadPool(8, (r: Runnable) => {
    val t = new Thread(r, "http-catalog")
    t.setDaemon(true) // never block JVM exit
    t
  })

  def start(): HttpCatalogServer = {
    server.createContext("/catalog", (ex: HttpExchange) => handle(ex))
    server.setExecutor(pool)
    server.start()
    this
  }

  def boundPort: Int = server.getAddress.getPort

  /** client URL; carries the backing dialect so the remote
    * MetadataManager spells DDL / classifies conflicts correctly */
  def url: String =
    s"http://127.0.0.1:$boundPort/catalog?dialect=${backingDialect.name}"

  def stop(): Unit = {
    server.stop(0)
    sessions.values().asScala.foreach(c =>
      try c.close() catch { case _: Throwable => () })
    sessions.clear()
    pool.shutdown()
    pool.awaitTermination(5, TimeUnit.SECONDS): Unit
    MetadataManager.shutdownDerby(backingJdbcUrl)
  }

  private def readAll(in: InputStream): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    out.toByteArray
  }

  private def conn(req: java.util.Map[String, Any]): Connection = {
    val sid = req.get("sid").asInstanceOf[String]
    val c = sessions.get(sid)
    if (c == null) throw new SQLException(s"unknown session $sid", "08003")
    c
  }

  private def bindParams(ps: PreparedStatement,
      params: java.util.List[_]): Unit =
    params.asScala.zipWithIndex.foreach { case (p, i) =>
      ps.setObject(i + 1, decodeValue(p.asInstanceOf[java.util.List[_]]))
    }

  private def rowsOf(rs: ResultSet): java.util.Map[String, Any] = {
    val md = rs.getMetaData
    val n = md.getColumnCount
    val cols = (1 to n).map(md.getColumnLabel).asJava
    val rows = new java.util.ArrayList[java.util.List[Any]]()
    while (rs.next())
      rows.add((1 to n).map(i => encodeValue(rs.getObject(i)): Any).asJava)
    java.util.Map.of("cols", cols, "rows", rows)
  }

  private def handle(ex: HttpExchange): Unit = {
    val resp: java.util.Map[String, Any] =
      try {
        val req = mapper.readValue(readAll(ex.getRequestBody),
          classOf[java.util.Map[String, Any]])
        dispatch(req)
      } catch {
        case e: SQLException => java.util.Map.of(
          "error", String.valueOf(e.getMessage),
          "sqlState", Option(e.getSQLState).getOrElse(""))
        case e: Throwable =>
          java.util.Map.of("error", String.valueOf(e), "sqlState", "")
      }
    val body = mapper.writeValueAsBytes(resp)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(200, body.length)
    ex.getResponseBody.write(body)
    ex.close()
  }

  private def dispatch(
      req: java.util.Map[String, Any]): java.util.Map[String, Any] = {
    def sql = req.get("sql").asInstanceOf[String]
    def params = req.getOrDefault("params", java.util.List.of())
      .asInstanceOf[java.util.List[_]]
    req.get("op") match {
      case "session" =>
        val c = java.sql.DriverManager.getConnection(backingJdbcUrl)
        c.setAutoCommit(false)
        val sid = UUID.randomUUID().toString
        sessions.put(sid, c)
        java.util.Map.of("sid", sid)
      case "query" =>
        val c = conn(req)
        val ps = c.prepareStatement(sql)
        try { bindParams(ps, params); rowsOf(ps.executeQuery()) }
        finally ps.close()
      case "exec" =>
        val c = conn(req)
        val ps = c.prepareStatement(sql)
        try {
          bindParams(ps, params)
          java.util.Map.of("n", Int.box(ps.executeUpdate()))
        } finally ps.close()
      case "batch" =>
        val c = conn(req)
        val ps = c.prepareStatement(sql)
        try {
          req.get("rows").asInstanceOf[java.util.List[_]].asScala.foreach {
            row =>
              bindParams(ps, row.asInstanceOf[java.util.List[_]])
              ps.addBatch()
          }
          java.util.Map.of("n", Int.box(ps.executeBatch().sum))
        } finally ps.close()
      case "meta_tables" =>
        val rs = conn(req).getMetaData.getTables(null, null,
          req.get("name").asInstanceOf[String], null)
        try rowsOf(rs) finally rs.close()
      case "meta_columns" =>
        val rs = conn(req).getMetaData.getColumns(null, null,
          req.get("name").asInstanceOf[String],
          req.get("column").asInstanceOf[String])
        try rowsOf(rs) finally rs.close()
      // staged server-side commit (reference
      // ducklake_server_side_commit.cpp / staged_commit.hpp: stage the
      // whole write-set, then ONE call runs it inside the catalog
      // transaction): a list of {sql, rows:[[params]…]} executed
      // sequentially with a single prepare+batch each, optionally
      // followed by the transaction commit — one round trip total.
      case "script" =>
        val c = conn(req)
        var total = 0
        req.get("stmts").asInstanceOf[java.util.List[_]].asScala.foreach {
          s0 =>
            val s = s0.asInstanceOf[java.util.Map[String, Any]]
            val ps = c.prepareStatement(s.get("sql").asInstanceOf[String])
            try {
              s.get("rows").asInstanceOf[java.util.List[_]].asScala
                .foreach { row =>
                  bindParams(ps, row.asInstanceOf[java.util.List[_]])
                  ps.addBatch()
                }
              total += ps.executeBatch().sum
            } finally ps.close()
        }
        if (req.getOrDefault("commit", Boolean.box(false))
            .asInstanceOf[Boolean]) c.commit()
        java.util.Map.of("n", Int.box(total))
      case "commit" =>
        conn(req).commit(); java.util.Map.of("ok", Boolean.box(true))
      case "rollback" =>
        conn(req).rollback(); java.util.Map.of("ok", Boolean.box(true))
      case "close" =>
        val sid = req.get("sid").asInstanceOf[String]
        Option(sessions.remove(sid)).foreach(c =>
          try c.close() catch { case _: Throwable => () })
        java.util.Map.of("ok", Boolean.box(true))
      case other => throw new IllegalArgumentException(s"bad op $other")
    }
  }
}

/** `java.sql.Connection` facade over the HTTP catalog service, built with
  * reflective proxies so only the surface [[MetadataManager]] actually
  * uses is implemented (prepare/execute/batch/metadata-probe/commit/
  * rollback/close); anything else fails fast. */
object HttpCatalogClient {
  import HttpCatalogCodec._

  private def post(endpoint: String,
      req: java.util.Map[String, Any]): java.util.Map[String, Any] = {
    // connection-level retry like the reference's quack client (5
    // attempts on transport failure, quack_metadata_manager.cpp:40-52)
    var attempt = 0
    var lastErr: Throwable = null
    while (attempt < 5) {
      try {
        val c = new URI(endpoint).toURL.openConnection()
          .asInstanceOf[HttpURLConnection]
        c.setRequestMethod("POST")
        c.setDoOutput(true)
        c.setConnectTimeout(5000)
        c.setReadTimeout(60000)
        val body = mapper.writeValueAsBytes(req)
        c.getOutputStream.write(body)
        c.getOutputStream.close()
        val in = c.getInputStream
        val resp = mapper.readValue(in,
          classOf[java.util.Map[String, Any]])
        in.close()
        Option(resp.get("error")).foreach { msg =>
          throw new SQLException(String.valueOf(msg),
            String.valueOf(resp.getOrDefault("sqlState", "")))
        }
        return resp
      } catch {
        case e: SQLException => throw e // server-side SQL error: no retry
        case e: java.io.IOException => lastErr = e; attempt += 1
      }
    }
    throw new SQLException(s"catalog service unreachable: $lastErr", "08001")
  }

  private def proxy[A](iface: Class[A])(
      pf: PartialFunction[(String, Array[AnyRef]), AnyRef]): A =
    Proxy.newProxyInstance(iface.getClassLoader, Array(iface),
      new InvocationHandler {
        override def invoke(p: Any, m: Method,
            args: Array[AnyRef]): AnyRef = {
          val a = if (args == null) Array.empty[AnyRef] else args
          m.getName match {
            case "toString" => s"http-proxy:${iface.getSimpleName}"
            case "hashCode" => Int.box(System.identityHashCode(p))
            case "equals" => Boolean.box(p.asInstanceOf[AnyRef] eq a(0))
            case name if pf.isDefinedAt((name, a)) => pf((name, a))
            case name => throw new UnsupportedOperationException(
              s"${iface.getSimpleName}.$name not supported over the " +
                "HTTP catalog transport")
          }
        }
      }).asInstanceOf[A]

  /** rows already fetched; implements the cursor surface the manager uses */
  private def resultSet(cols: java.util.List[_],
      rows: java.util.List[_]): ResultSet = {
    val colIdx = cols.asScala.map(String.valueOf(_).toLowerCase)
      .zipWithIndex.toMap
    var cursor = -1
    var lastNull = false
    def cell(i: Int): Any = {
      val v = decodeValue(rows.get(cursor).asInstanceOf[java.util.List[_]]
        .get(i - 1).asInstanceOf[java.util.List[_]])
      lastNull = v == null
      v
    }
    def idx(a: AnyRef): Int = a match {
      case i: Integer => i.intValue()
      case s: String => colIdx.getOrElse(s.toLowerCase,
        throw new SQLException(s"no column $s")) + 1
      case other => throw new SQLException(s"bad column ref $other")
    }
    proxy(classOf[ResultSet]) {
      case ("next", _) =>
        cursor += 1; Boolean.box(cursor < rows.size())
      case ("getLong", a) => cell(idx(a(0))) match {
        case null => Long.box(0L)
        case n: java.lang.Number => Long.box(n.longValue())
        case v => Long.box(String.valueOf(v).toLong)
      }
      case ("getInt", a) => cell(idx(a(0))) match {
        case null => Int.box(0)
        case n: java.lang.Number => Int.box(n.intValue())
        case v => Int.box(String.valueOf(v).toInt)
      }
      case ("getDouble", a) => cell(idx(a(0))) match {
        case null => Double.box(0.0)
        case n: java.lang.Number => Double.box(n.doubleValue())
        case v => Double.box(String.valueOf(v).toDouble)
      }
      case ("getString", a) => cell(idx(a(0))) match {
        case null => null
        case v => String.valueOf(v)
      }
      case ("getBoolean", a) => cell(idx(a(0))) match {
        case null => Boolean.box(false)
        case b: java.lang.Boolean => b
        case n: java.lang.Number => Boolean.box(n.longValue() != 0)
        case v => Boolean.box(String.valueOf(v).toBoolean)
      }
      case ("getObject", a) => cell(idx(a(0))).asInstanceOf[AnyRef]
      case ("wasNull", _) => Boolean.box(lastNull)
      case ("close", _) => null
      case ("isClosed", _) => Boolean.box(false)
    }
  }

  private class Session(endpoint: String, sid: String) {
    def call(op: String,
        extra: (String, Any)*): java.util.Map[String, Any] = {
      val req = new java.util.HashMap[String, Any]()
      req.put("op", op)
      req.put("sid", sid)
      extra.foreach { case (k, v) => req.put(k, v) }
      post(endpoint, req)
    }
  }

  private def preparedStatement(s: Session, sql: String): PreparedStatement = {
    val params = new java.util.ArrayList[Any]()
    val batches = new java.util.ArrayList[Any]()
    def paramList: java.util.List[Any] = new java.util.ArrayList(params)
    proxy(classOf[PreparedStatement]) {
      case ("setObject", a) =>
        val i = a(0).asInstanceOf[Integer].intValue()
        while (params.size() < i) params.add(null)
        params.set(i - 1, encodeValue(a(1)))
        null
      case ("executeQuery", _) =>
        val r = s.call("query", "sql" -> sql, "params" -> paramList)
        resultSet(r.get("cols").asInstanceOf[java.util.List[_]],
          r.get("rows").asInstanceOf[java.util.List[_]])
      case ("executeUpdate", _) =>
        Int.box(s.call("exec", "sql" -> sql, "params" -> paramList)
          .get("n").asInstanceOf[Number].intValue())
      case ("addBatch", _) => batches.add(paramList); null
      case ("executeBatch", _) =>
        if (!batches.isEmpty)
          s.call("batch", "sql" -> sql, "rows" -> batches): Unit
        Array.fill(batches.size())(1)
      case ("clearParameters", _) => params.clear(); null
      case ("close", _) => null
      case ("isClosed", _) => Boolean.box(false)
    }
  }

  private def metaData(s: Session): DatabaseMetaData =
    proxy(classOf[DatabaseMetaData]) {
      case ("getTables", a) =>
        val r = s.call("meta_tables", "name" -> a(2))
        resultSet(r.get("cols").asInstanceOf[java.util.List[_]],
          r.get("rows").asInstanceOf[java.util.List[_]])
      case ("getColumns", a) =>
        val r = s.call("meta_columns", "name" -> a(2), "column" -> a(3))
        resultSet(r.get("cols").asInstanceOf[java.util.List[_]],
          r.get("rows").asInstanceOf[java.util.List[_]])
    }

  // ---- staged server-side commit ------------------------------------
  // (reference ducklake_server_side_commit.cpp / staged_commit.hpp):
  // MetadataManager buffers a commit's writes client-side and ships them
  // as ONE `script` request that executes AND commits inside the
  // catalog transaction — a commit costs one network round trip instead
  // of one per statement. Reads auto-flush pending writes first, so
  // read-your-writes inside a commit body still holds.
  private val sessionOfConn = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[Connection, Session]())
  private val stagingBuf = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[Connection,
      java.util.List[java.util.Map[String, Any]]]())

  /** is this a service connection (staged commits available)? */
  def supportsStagedCommit(c: Connection): Boolean =
    sessionOfConn.containsKey(c)

  def beginStaging(c: Connection): Unit =
    if (supportsStagedCommit(c))
      stagingBuf.put(c, new java.util.ArrayList()): Unit

  /** Buffer a write if staging is active on `c`; false = run it live. */
  def stage(c: Connection, sql: String, rows: Seq[Seq[Any]]): Boolean = {
    val buf = stagingBuf.get(c)
    if (buf == null) false
    else {
      val enc = new java.util.ArrayList[Any]()
      rows.foreach { r =>
        val row = new java.util.ArrayList[Any]()
        r.foreach(v => row.add(encodeValue(v)))
        enc.add(row)
      }
      buf.add(java.util.Map.of("sql", sql, "rows", enc))
      true
    }
  }

  def stagingActive(c: Connection): Boolean = stagingBuf.get(c) != null

  /** Ship buffered writes as one script (optionally committing in the
    * same round trip). `commit = true` also ends staging. */
  def flushStaged(c: Connection, commit: Boolean): Unit = {
    val buf = stagingBuf.get(c)
    if (buf == null) {
      if (commit) c.commit()
      return
    }
    val s = sessionOfConn.get(c)
    if (!buf.isEmpty || commit) {
      s.call("script", "stmts" -> new java.util.ArrayList(buf),
        "commit" -> Boolean.box(commit)): Unit
      buf.clear()
    }
    if (commit) stagingBuf.remove(c): Unit
  }

  def abortStaging(c: Connection): Unit = stagingBuf.remove(c): Unit

  /** Open a catalog session; returns a Connection whose SQL runs on the
    * service end. */
  def connect(url: String): Connection = {
    val endpoint = url.split('?')(0)
    val sid = post(endpoint, java.util.Map.of("op", "session"))
      .get("sid").asInstanceOf[String]
    val s = new Session(endpoint, sid)
    var closed = false
    val c = proxy(classOf[Connection]) {
      case ("setAutoCommit", _) => null // server sessions are always manual
      case ("getAutoCommit", _) => Boolean.box(false)
      case ("prepareStatement", a) =>
        preparedStatement(s, a(0).asInstanceOf[String])
      case ("createStatement", _) =>
        // plain Statement: only executeUpdate(sql) (DDL path) is needed
        proxy(classOf[Statement]) {
          case ("executeUpdate", a) =>
            Int.box(s.call("exec", "sql" -> a(0), "params" ->
              java.util.List.of()).get("n").asInstanceOf[Number].intValue())
          case ("close", _) => null
        }
      case ("getMetaData", _) => metaData(s)
      case ("commit", _) => s.call("commit"); null
      case ("rollback", _) => s.call("rollback"); null
      case ("close", _) =>
        if (!closed) { closed = true; s.call("close") }
        null
      case ("isClosed", _) => Boolean.box(closed)
      case ("isValid", _) => Boolean.box(!closed)
    }
    sessionOfConn.put(c, s)
    c
  }
}
