package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, PreparedStatement,
  SQLFeatureNotSupportedException}
import java.util.Properties
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

/** A JDBC driver for `jdbc:perfbench:<rest>` URLs. It hands every call on
  * to the driver of `jdbc:<rest>` and counts what the engine's JDBC sink
  * did: connections opened, the most open at once and `executeBatch`
  * calls. In local mode the writer tasks run in this JVM, so the counts
  * are the sink's own, not a model of it.
  */
object CountingJdbc extends Driver {
  val Prefix = "jdbc:perfbench:"
  val connections = new AtomicLong
  val batches = new AtomicLong
  val maxOpen = new AtomicLong
  private val open = new AtomicLong
  private var registered = false

  def register(): Unit = synchronized {
    if (!registered) { DriverManager.registerDriver(this); registered = true }
  }

  /** The counting URL for a plain JDBC URL. */
  def url(target: String): String = Prefix + target.stripPrefix("jdbc:")

  private def forward[T](iface: Class[T], target: AnyRef)(
      after: (String, AnyRef) => AnyRef): T =
    iface.cast(Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface),
      new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
          val r = try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
                  catch { case e: InvocationTargetException => throw e.getCause }
          after(m.getName, r)
        }
      }))

  def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else {
      val c = DriverManager.getConnection("jdbc:" + url.stripPrefix(Prefix), info)
      connections.incrementAndGet()
      maxOpen.accumulateAndGet(open.incrementAndGet(), (a, b) => math.max(a, b))
      val closed = new AtomicBoolean(false)
      forward(classOf[Connection], c) {
        case ("close", r) => if (closed.compareAndSet(false, true)) open.decrementAndGet(); r
        case ("prepareStatement", s) =>
          forward(classOf[PreparedStatement], s) {
            case ("executeBatch", r) => batches.incrementAndGet(); r
            case (_, r) => r
          }
        case (_, r) => r
      }
    }

  def acceptsURL(url: String): Boolean = url != null && url.startsWith(Prefix)
  def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] = Array.empty
  def getMajorVersion: Int = 1
  def getMinorVersion: Int = 0
  def jdbcCompliant: Boolean = false
  def getParentLogger: java.util.logging.Logger = throw new SQLFeatureNotSupportedException
}
