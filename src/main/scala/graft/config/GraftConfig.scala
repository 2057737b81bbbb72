package graft.config

import scala.collection.mutable
import scala.io.Source

/**
 * Typed settings + file/CLI loading — the reference's configuration
 * surface (src/config.rs:5-169: `[server]` / `[history]` tables with
 * optional `hdfs` / `s3` / `circuit_breaker` / `kerberos` subtables;
 * src/main.rs:20-120: CLI flags overriding file values; defaults at
 * config.rs:135-156). Graft reads the same TOML table/key shape with
 * a dependency-free parser covering the subset the reference's own
 * settings files use: `[dotted.tables]`, `key = value` with quoted
 * strings, integers, and booleans, `#` comments. CLI precedence
 * matches main.rs: a flag beats the file beats the default. Only the
 * values the server reads are typed; the reference's other keys
 * (`max_applications`, `update_interval_seconds`, the
 * `circuit_breaker` table, read timeouts, the kerberos realm, ...)
 * still parse and are ignored, so a reference settings file loads.
 *
 * Spark-land scoping (SURVEY §2 row 4 precedent): Kerberos fields are
 * parsed into a typed [[Settings.kerberosLogin]] plan; when both
 * principal and keytab are present, [[graft.api.ServerMain]] performs
 * the login itself via `UserGroupInformation.loginUserFromKeytab`
 * (reference behavior: hdfs_reader.rs:55-91 `create_kerberos_client`)
 * — `spark-submit --principal/--keytab` remains the cluster-native
 * alternative and takes effect first when both are given. S3
 * credentials map onto `fs.s3a.*` Hadoop conf keys via
 * [[Settings.hadoopOverrides]] rather than a bespoke client.
 */
object GraftConfig {

  case class ServerConfig(host: String = "0.0.0.0", port: Int = 18080)

  case class KerberosConfig(principal: String,
                            keytabPath: Option[String] = None,
                            krb5ConfigPath: Option[String] = None)

  case class HdfsConfig(namenodeUrl: String,
                        connectionTimeoutMs: Option[Long] = None,
                        kerberos: Option[KerberosConfig] = None)

  case class S3Config(bucketName: String,
                      region: Option[String] = None,
                      endpointUrl: Option[String] = None,
                      accessKeyId: Option[String] = None,
                      secretAccessKey: Option[String] = None,
                      sessionToken: Option[String] = None,
                      connectionTimeoutMs: Option[Long] = None)

  case class HistoryConfig(logDirectory: String = "./test-data/spark-events",
                           hdfs: Option[HdfsConfig] = None,
                           s3: Option[S3Config] = None)

  case class Settings(server: ServerConfig = ServerConfig(),
                      history: HistoryConfig = HistoryConfig()) {

    /** The S3/HDFS fields a Spark session actually consumes, as Hadoop
     *  conf key/value pairs (`fs.s3a.*`, `dfs.client.*`) — set them on
     *  `spark.sparkContext.hadoopConfiguration` before reading. */
    def hadoopOverrides: Seq[(String, String)] = {
      val s3kv = history.s3.toSeq.flatMap { s3 =>
        Seq(
          s3.endpointUrl.map("fs.s3a.endpoint" -> _),
          s3.accessKeyId.map("fs.s3a.access.key" -> _),
          s3.secretAccessKey.map("fs.s3a.secret.key" -> _),
          s3.sessionToken.map("fs.s3a.session.token" -> _),
          s3.region.map("fs.s3a.endpoint.region" -> _),
          s3.connectionTimeoutMs.map(t =>
            "fs.s3a.connection.establish.timeout" -> t.toString)
        ).flatten
      }
      val hdfsKv = history.hdfs.toSeq.flatMap { h =>
        h.connectionTimeoutMs.map(t =>
          "ipc.client.connect.timeout" -> t.toString).toSeq
      }
      // a kerberos table switches the Hadoop auth mode — required for
      // UserGroupInformation to attempt a kerberos (not SIMPLE) login
      val krbKv = history.hdfs.flatMap(_.kerberos).toSeq.flatMap { _ =>
        Seq("hadoop.security.authentication" -> "kerberos")
      }
      s3kv ++ hdfsKv ++ krbKv
    }

    /** The keytab login ServerMain must perform before the first
     *  filesystem touch (hdfs_reader.rs:55-91): present only when the
     *  kerberos table carries BOTH a non-empty principal and a keytab
     *  path — a principal alone means ticket-cache/`spark-submit`
     *  auth, nothing for graft to do. */
    def kerberosLogin: Option[(String, String)] =
      for {
        h <- history.hdfs
        k <- h.kerberos
        keytab <- k.keytabPath
        if k.principal.nonEmpty
      } yield (k.principal, keytab)

    /** The krb5.conf override accompanying [[kerberosLogin]], if any. */
    def krb5ConfPath: Option[String] =
      history.hdfs.flatMap(_.kerberos).flatMap(_.krb5ConfigPath)

    /** The event-log URI the readers consume: explicit HDFS/S3 config
     *  wins over the plain log_directory path (main.rs behavior — the
     *  --hdfs/--s3 modes re-root the directory). */
    def eventLogUri: String = history.s3
      .map(s3 => s"s3a://${s3.bucketName}/${history.logDirectory.stripPrefix("/")}")
      .orElse(history.hdfs.map(h =>
        h.namenodeUrl.stripSuffix("/") + "/" + history.logDirectory.stripPrefix("/")))
      .getOrElse(history.logDirectory)
  }

  /** Parse the TOML subset: returns (table -> key -> raw value).
   *  Strings lose their quotes; everything else stays raw text. */
  private[config] def parseToml(text: String): Map[String, Map[String, String]] = {
    val tables = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, String]]
    var current = tables.getOrElseUpdate("", mutable.LinkedHashMap.empty)
    text.linesIterator.foreach { raw =>
      val line = stripComment(raw).trim
      if (line.nonEmpty) {
        if (line.startsWith("[") && line.endsWith("]")) {
          val name = line.substring(1, line.length - 1).trim
          current = tables.getOrElseUpdate(name, mutable.LinkedHashMap.empty)
        } else {
          val eq = line.indexOf('=')
          if (eq > 0) {
            val k = line.substring(0, eq).trim
            val v = line.substring(eq + 1).trim
            current.put(k, unquote(v))
          }
        }
      }
    }
    tables.map { case (k, v) => k -> v.toMap }.toMap
  }

  /** Strip a `#` comment, respecting quoted strings. */
  private def stripComment(line: String): String = {
    var inStr = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (c == '"') inStr = !inStr
      else if (c == '#' && !inStr) return line.substring(0, i)
      i += 1
    }
    line
  }

  private def unquote(v: String): String =
    if (v.length >= 2 && v.startsWith("\"") && v.endsWith("\""))
      v.substring(1, v.length - 1)
    else v

  private def str(t: Map[String, String], k: String): Option[String] = t.get(k)
  private def int(t: Map[String, String], k: String): Option[Int] =
    t.get(k).map(_.toInt)
  private def lng(t: Map[String, String], k: String): Option[Long] =
    t.get(k).map(_.toLong)

  /** Build Settings from parsed tables, filling reference defaults. */
  private[config] def fromTables(tables: Map[String, Map[String, String]]): Settings = {
    val sv = tables.getOrElse("server", Map.empty)
    val hi = tables.getOrElse("history", Map.empty)
    val d = Settings()
    val hdfs = tables.get("history.hdfs").map { t =>
      HdfsConfig(
        namenodeUrl = str(t, "namenode_url").getOrElse("hdfs://localhost:9000"),
        connectionTimeoutMs = lng(t, "connection_timeout_ms"),
        kerberos = tables.get("history.hdfs.kerberos").map { kt =>
          KerberosConfig(
            principal = str(kt, "principal").getOrElse(""),
            keytabPath = str(kt, "keytab_path"),
            krb5ConfigPath = str(kt, "krb5_config_path"))
        })
    }
    val s3 = tables.get("history.s3").map { t =>
      S3Config(
        bucketName = str(t, "bucket_name").getOrElse(""),
        region = str(t, "region"),
        endpointUrl = str(t, "endpoint_url"),
        accessKeyId = str(t, "access_key_id"),
        secretAccessKey = str(t, "secret_access_key"),
        sessionToken = str(t, "session_token"),
        connectionTimeoutMs = lng(t, "connection_timeout_ms"))
    }
    Settings(
      server = ServerConfig(
        host = str(sv, "host").getOrElse(d.server.host),
        port = int(sv, "port").getOrElse(d.server.port)),
      history = HistoryConfig(
        logDirectory = str(hi, "log_directory").getOrElse(d.history.logDirectory),
        hdfs = hdfs, s3 = s3))
  }

  /** Load from a settings file; missing file = defaults with a warning
   *  (config.rs:159-168). */
  def load(configPath: String): Settings = {
    val f = new java.io.File(configPath)
    if (f.exists()) {
      val src = Source.fromFile(f, "UTF-8")
      val text = try src.mkString finally src.close()
      fromTables(parseToml(text))
    } else {
      System.err.println(s"[graft.config] config file not found: $configPath — using defaults")
      Settings()
    }
  }

  /** CLI parsing with file+flag precedence (main.rs:20-120): `--config
   *  PATH` names the file; `--host/--port/--log-directory` override
   *  its values; `--hdfs-namenode
   *  URL` / `--s3-bucket NAME` switch the storage mode like the
   *  reference's `--hdfs`/`--s3` flags. Unknown flags throw. */
  def fromArgs(args: Array[String]): Settings = {
    val kv = mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (!a.startsWith("--"))
        throw new IllegalArgumentException(s"unexpected argument: $a")
      if (i + 1 >= args.length)
        throw new IllegalArgumentException(s"missing value for $a")
      kv.put(a.stripPrefix("--"), args(i + 1))
      i += 2
    }
    val known = Set("config", "host", "port", "log-directory",
      "hdfs-namenode", "s3-bucket")
    kv.keys.find(!known.contains(_)).foreach { k =>
      throw new IllegalArgumentException(s"unknown flag: --$k")
    }
    val base = load(kv.getOrElse("config", "config/settings.toml"))
    val hdfs = kv.get("hdfs-namenode")
      .map(u => HdfsConfig(namenodeUrl = u)).orElse(base.history.hdfs)
    val s3 = kv.get("s3-bucket")
      .map(b => S3Config(bucketName = b)).orElse(base.history.s3)
    base.copy(
      server = base.server.copy(
        host = kv.getOrElse("host", base.server.host),
        port = kv.get("port").map(_.toInt).getOrElse(base.server.port)),
      history = base.history.copy(
        logDirectory = kv.getOrElse("log-directory", base.history.logDirectory),
        hdfs = hdfs, s3 = s3))
  }
}
