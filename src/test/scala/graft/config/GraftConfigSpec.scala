package graft.config

import org.scalatest.funsuite.AnyFunSuite

import GraftConfig._

class GraftConfigSpec extends AnyFunSuite {

  private val sample = """
# graft settings (reference config/settings.toml shape)
[server]
host = "127.0.0.1"   # bind address
port = 9090
max_applications = 50

[history]
log_directory = "/data/spark-events"
update_interval_seconds = 30
compression_enabled = false
database_directory = "/data/db"

[history.hdfs]
namenode_url = "hdfs://nn:9000"
connection_timeout_ms = 5000

[history.hdfs.kerberos]
principal = "svc@REALM"
keytab_path = "/etc/krb5.keytab"

[history.circuit_breaker]
enabled = true
failure_threshold = 3
timeout_duration_secs = 7
"""

  test("TOML subset parses tables, strings, ints, bools, comments") {
    val s = fromTables(parseToml(sample))
    assert(s.server.host === "127.0.0.1")
    assert(s.server.port === 9090)
    assert(s.history.logDirectory === "/data/spark-events")
    val h = s.history.hdfs.get
    assert(h.namenodeUrl === "hdfs://nn:9000")
    assert(h.connectionTimeoutMs === Some(5000L))
    assert(h.kerberos.get.principal === "svc@REALM")
    assert(h.kerberos.get.keytabPath === Some("/etc/krb5.keytab"))
  }

  test("a reference-style settings file with keys the server does not read still loads") {
    val s = fromTables(parseToml(sample + """
[history]
max_applications = 500
max_apps_per_request = 20

[history.hdfs]
namenode_url = "hdfs://nn:9000"
connection_timeout_ms = 5000
read_timeout_ms = 60000

[history.hdfs.kerberos]
principal = "svc@REALM"
keytab_path = "/etc/krb5.keytab"
realm = "REALM"

[history.s3]
bucket_name = "spark-logs"
region = "us-east-1"
read_timeout_ms = 30000

[history.circuit_breaker]
success_threshold = 2
window_duration_secs = 120
"""))
    assert(s.server === ServerConfig("127.0.0.1", 9090))
    assert(s.history === HistoryConfig(
      logDirectory = "/data/spark-events",
      hdfs = Some(HdfsConfig("hdfs://nn:9000", Some(5000L),
        Some(KerberosConfig("svc@REALM", Some("/etc/krb5.keytab"))))),
      s3 = Some(S3Config("spark-logs", region = Some("us-east-1")))))
  }

  test("missing file yields reference defaults (config.rs:135-156)") {
    val s = GraftConfig.load("/nonexistent/settings.toml")
    assert(s.server.host === "0.0.0.0" && s.server.port === 18080)
    assert(s.history.hdfs.isEmpty && s.history.s3.isEmpty)
  }

  test("CLI flags override file values; file overrides defaults") {
    val dir = java.nio.file.Files.createTempDirectory("cfg")
    val p = dir.resolve("settings.toml")
    java.nio.file.Files.writeString(p, sample)
    val s = GraftConfig.fromArgs(Array(
      "--config", p.toString, "--port", "7070", "--log-directory", "/override"))
    assert(s.server.port === 7070)                      // flag wins
    assert(s.server.host === "127.0.0.1")               // file wins
    assert(s.history.logDirectory === "/override")      // flag wins
  }

  test("storage-mode flags and eventLogUri composition") {
    val s3 = GraftConfig.fromArgs(Array(
      "--config", "/nonexistent.toml",
      "--s3-bucket", "spark-logs", "--log-directory", "/events"))
    assert(s3.eventLogUri === "s3a://spark-logs/events")
    val hdfs = GraftConfig.fromArgs(Array(
      "--config", "/nonexistent.toml",
      "--hdfs-namenode", "hdfs://nn:9000", "--log-directory", "/events"))
    assert(hdfs.eventLogUri === "hdfs://nn:9000/events")
    val local = GraftConfig.fromArgs(Array("--config", "/nonexistent.toml"))
    assert(local.eventLogUri === local.history.logDirectory)
  }

  test("unknown flags and malformed args throw") {
    intercept[IllegalArgumentException](GraftConfig.fromArgs(Array("--bogus", "x")))
    intercept[IllegalArgumentException](GraftConfig.fromArgs(Array("stray")))
    intercept[IllegalArgumentException](GraftConfig.fromArgs(Array("--port")))
    // the reference flags for settings the server does not read
    for (flag <- Seq("--update-interval", "--max-apps"))
      assert(intercept[IllegalArgumentException](GraftConfig.fromArgs(Array(
        "--config", "/nonexistent.toml", flag, "5"))).getMessage === s"unknown flag: $flag")
  }

  test("hadoopOverrides maps S3 credentials onto fs.s3a keys") {
    val s = Settings(history = HistoryConfig(s3 = Some(S3Config(
      bucketName = "b", endpointUrl = Some("http://minio:9000"),
      accessKeyId = Some("AK"), secretAccessKey = Some("SK")))))
    val kv = s.hadoopOverrides.toMap
    assert(kv("fs.s3a.endpoint") === "http://minio:9000")
    assert(kv("fs.s3a.access.key") === "AK")
    assert(kv("fs.s3a.secret.key") === "SK")
  }

  test("kerberos settings wire the UGI login plan (hdfs_reader.rs:55-91)") {
    // the parsed sample carries principal + keytab: the login plan the
    // ServerMain UGI call consumes must echo exactly those two, the
    // auth-mode override must land on the Hadoop conf, and the
    // krb5.conf path must ride along when present
    val s = fromTables(parseToml(sample))
    assert(s.kerberosLogin === Some(("svc@REALM", "/etc/krb5.keytab")))
    assert(s.hadoopOverrides.toMap
      .get("hadoop.security.authentication") === Some("kerberos"))
    assert(s.krb5ConfPath === None)
    val withKrb5 = fromTables(parseToml(sample +
      "\n[history.hdfs.kerberos]\nprincipal = \"svc@REALM\"\n" +
      "keytab_path = \"/etc/krb5.keytab\"\nkrb5_config_path = \"/etc/krb5.conf\"\n"))
    assert(withKrb5.krb5ConfPath === Some("/etc/krb5.conf"))
    // principal without keytab = ticket-cache/spark-submit auth: no
    // login for graft to perform, but the auth mode still switches
    val noKeytab = Settings(history = HistoryConfig(hdfs = Some(HdfsConfig(
      namenodeUrl = "hdfs://nn:9000",
      kerberos = Some(KerberosConfig(principal = "svc@REALM"))))))
    assert(noKeytab.kerberosLogin === None)
    assert(noKeytab.hadoopOverrides.toMap
      .get("hadoop.security.authentication") === Some("kerberos"))
  }
}
