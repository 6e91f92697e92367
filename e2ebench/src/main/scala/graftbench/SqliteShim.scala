package graftbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, ResultSet, Statement}
import java.util.Properties
import java.util.concurrent.atomic.AtomicLong
import java.util.logging.Logger

/** A `java.sql.Driver` for `jdbc:sqlite:<path>` URLs that opens embedded
  * Derby at `<path>` instead. Spark ships no SQLite JDBC implementation,
  * so this lets the program's own `Sources.sqliteJdbc` read a recorder
  * database unmodified. The source under test is therefore Derby, not
  * SQLite.
  *
  * The shim counts the source layer's work at the JDBC boundary:
  * statements executed, rows fetched and the time spent in
  * `ResultSet.next`. Connection, statement and result-set calls are
  * forwarded through dynamic proxies, so every other JDBC method behaves
  * exactly as Derby's.
  */
final class SqliteShim extends Driver {
  import SqliteShim._

  override def acceptsURL(url: String): Boolean =
    url != null && url.startsWith(Prefix)

  override def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else {
      val create = info != null && info.getProperty("create") == "true"
      val derbyUrl = s"jdbc:derby:${url.stripPrefix(Prefix)}" +
        (if (create) ";create=true" else "")
      wrapConnection(DriverManager.getConnection(derbyUrl))
    }

  override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
    Array.empty
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: Logger = Logger.getLogger("graftbench")
}

object SqliteShim {
  val Prefix = "jdbc:sqlite:"

  /** Cumulative counters since JVM start; callers take deltas. */
  val statements = new AtomicLong
  val rowsFetched = new AtomicLong
  val fetchNs = new AtomicLong

  final case class Counts(statements: Long, rows: Long, fetchNs: Long) {
    def -(o: Counts): Counts =
      Counts(statements - o.statements, rows - o.rows, fetchNs - o.fetchNs)
  }
  def counts(): Counts = Counts(statements.get, rowsFetched.get, fetchNs.get)

  private var registered = false

  def register(): Unit = synchronized {
    if (!registered) {
      DriverManager.registerDriver(new SqliteShim)
      registered = true
    }
  }

  /** Shut one Derby database down so its directory can be deleted. Derby
    * reports a clean shutdown as an SQLException with state 08006. */
  def shutdown(path: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:$path;shutdown=true").close()
    catch { case e: java.sql.SQLException if e.getSQLState == "08006" => () }

  private def forward(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try { if (args == null) m.invoke(target) else m.invoke(target, args: _*) }
    catch { case e: InvocationTargetException => throw e.getCause }

  private def proxy[T](iface: Class[T], h: InvocationHandler): T =
    iface.cast(Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface), h))

  private def wrapConnection(c: Connection): Connection =
    proxy(classOf[Connection], (_, m, args) => forward(c, m, args) match {
      case s: Statement if m.getName == "createStatement" || m.getName == "prepareStatement" ||
          m.getName == "prepareCall" => wrapStatement(s)
      case other => other
    })

  private def wrapStatement(s: Statement): Statement = {
    // keep the most specific interface so callers can still cast to
    // PreparedStatement / CallableStatement
    val iface: Class[_ <: Statement] = s match {
      case _: java.sql.CallableStatement => classOf[java.sql.CallableStatement]
      case _: java.sql.PreparedStatement => classOf[java.sql.PreparedStatement]
      case _ => classOf[Statement]
    }
    proxy(iface, (_, m, args) => {
      val name = m.getName
      if (name.startsWith("execute")) statements.incrementAndGet()
      forward(s, m, args) match {
        case rs: ResultSet if name == "executeQuery" || name == "getResultSet" =>
          wrapResultSet(rs)
        case other => other
      }
    }).asInstanceOf[Statement]
  }

  private def wrapResultSet(rs: ResultSet): ResultSet =
    proxy(classOf[ResultSet], (_, m, args) =>
      if (m.getName == "next" && (args == null || args.isEmpty)) {
        val t0 = System.nanoTime()
        val more = rs.next()
        fetchNs.addAndGet(System.nanoTime() - t0)
        if (more) rowsFetched.incrementAndGet()
        java.lang.Boolean.valueOf(more)
      } else forward(rs, m, args))
}
