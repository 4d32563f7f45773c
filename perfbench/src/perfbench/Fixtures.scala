package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, PreparedStatement}
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser

/** Writes generated changes as an events.parquet file shaped like the
  * sf dirs' (event_id, ts, user_id, event_type, value, props), without
  * Spark, so fixtures exist before any session starts. */
object EventsFile {
  private val schema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  required int64 event_id;
      |  required int64 ts (TIMESTAMP(MICROS,true));
      |  required int64 user_id;
      |  required binary event_type (STRING);
      |  required double value;
      |  required binary props (STRING);
      |}""".stripMargin)

  private lazy val conf = new Configuration()
  private val spentNs = new AtomicLong

  /** Seconds spent writing fixtures so far in this process. */
  def spentS: Double = spentNs.get / 1e9

  def write(file: java.nio.file.Path, changes: Seq[Change]): Unit = {
    val t0 = System.nanoTime()
    java.nio.file.Files.createDirectories(file.getParent)
    val w = ExampleParquetWriter
      .builder(new Path(file.toAbsolutePath.toUri))
      .withConf(conf).withType(schema).build()
    val f = new SimpleGroupFactory(schema)
    try changes.foreach { c =>
      w.write(f.newGroup()
        .append("event_id", c.eventId)
        .append("ts", c.tsMicros)
        .append("user_id", c.userId)
        .append("event_type", c.eventType)
        .append("value", c.cents / 100.0)
        .append("props", s"""{"k": ${c.k}}"""))
    } finally w.close()
    // the local file system leaves a .crc beside the file: a stream
    // source would read it as a second input file
    val crc = file.resolveSibling("." + file.getFileName + ".crc")
    java.nio.file.Files.deleteIfExists(crc)
    spentNs.addAndGet(System.nanoTime() - t0)
  }
}

/** A JDBC driver for `jdbc:perfbench:<url>` that forwards to `jdbc:<url>`
  * and counts what `graft.sources.JdbcSync` does through it: connections
  * opened, batches executed, rows bound per statement kind, and time
  * spent in executeBatch. Traced runs point the sync at this URL. */
object CountingJdbc {
  val Prefix = "jdbc:perfbench:"
  val connections = new AtomicLong
  val batches = new AtomicLong
  val batchNs = new AtomicLong
  /** Rows bound per statement kind: UPDATE, INSERT, DELETE. */
  val rows: Map[String, AtomicLong] =
    Seq("UPDATE", "INSERT", "DELETE").map(_ -> new AtomicLong).toMap

  def snapshot(): Map[String, Long] =
    Map("connections" -> connections.get, "batches" -> batches.get,
      "batch_ns" -> batchNs.get) ++ rows.map { case (k, v) => k -> v.get }

  private def proxy[T](iface: Class[T], target: AnyRef)(
      hook: (Method, Array[AnyRef]) => Option[() => AnyRef]): T =
    Proxy.newProxyInstance(iface.getClassLoader, Array(iface),
      new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
          try hook(m, args).map(_()).getOrElse(m.invoke(target, args: _*))
          catch { case e: InvocationTargetException => throw e.getCause }
      }).asInstanceOf[T]

  private def statement(sql: String, ps: PreparedStatement): PreparedStatement = {
    val kind = rows.get(sql.trim.takeWhile(_ != ' ').toUpperCase)
    proxy(classOf[PreparedStatement], ps) { (m, args) =>
      m.getName match {
        case "addBatch" if args == null || args.isEmpty =>
          kind.foreach(_.incrementAndGet()); None
        case "executeBatch" => Some { () =>
          val t0 = System.nanoTime()
          try ps.executeBatch()
          finally { batches.incrementAndGet(); batchNs.addAndGet(System.nanoTime() - t0) }
        }
        case _ => None
      }
    }
  }

  private object Drv extends Driver {
    def acceptsURL(url: String): Boolean = url != null && url.startsWith(Prefix)
    def connect(url: String, info: java.util.Properties): Connection =
      if (!acceptsURL(url)) null
      else {
        val c = DriverManager.getConnection("jdbc:" + url.stripPrefix(Prefix), info)
        connections.incrementAndGet()
        proxy(classOf[Connection], c) { (m, args) =>
          if (m.getName == "prepareStatement")
            Some(() => statement(args(0).asInstanceOf[String],
              m.invoke(c, args: _*).asInstanceOf[PreparedStatement]))
          else None
        }
      }
    def getMajorVersion: Int = 1
    def getMinorVersion: Int = 0
    def getPropertyInfo(u: String, i: java.util.Properties): Array[DriverPropertyInfo] =
      Array.empty
    def jdbcCompliant: Boolean = false
    def getParentLogger: java.util.logging.Logger =
      java.util.logging.Logger.getLogger("perfbench")
  }

  lazy val register: Unit = DriverManager.registerDriver(Drv)
}
