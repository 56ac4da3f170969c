package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ConfigSource, EnvConfigSource, FileConfigSource,
  MapConfigSource, SfdcCredentials}
import graft.streaming.CdcPipeline

/** External config-store seam (r15 verdict task 7): the reference's
  * startup fetch (`KinesisExample.java:54-82`, `app.py:9-45`) —
  * sandbox-branched SSM parameter reads plus BATCH_SIZE/INTERVAL env
  * knobs — re-expressed as a ConfigSource trait with env/file/map
  * bindings and first-hit-wins layering. */
class ConfigSourceSpec extends AnyFunSuite {

  test("envName maps parameter paths to 12-factor env names") {
    assert(ConfigSource.envName("/sfdc/sandbox/active") == "SFDC_SANDBOX_ACTIVE")
    assert(ConfigSource.envName("/batch_size") == "BATCH_SIZE")
    assert(ConfigSource.envName("/sfdc/security_token") == "SFDC_SECURITY_TOKEN")
  }

  test("env binding resolves through the path->name rule; injectable env") {
    val env = new EnvConfigSource(Map(
      "SFDC_USERNAME" -> "u@example.com", "BATCH_SIZE" -> "25"))
    assert(env.get("/sfdc/username", secure = true).contains("u@example.com"))
    assert(env.get("/batch_size").contains("25"))
    assert(env.get("/sfdc/password", secure = true).isEmpty)
  }

  test("file binding reads properties keyed by raw paths; missing file is empty") {
    val f = java.io.File.createTempFile("graft-config", ".properties")
    try {
      val w = new java.io.PrintWriter(f, "UTF-8")
      w.println("/sfdc/sandbox/active=1")
      w.println("/sfdc/sandbox/domain=test")
      w.close()
      val fs = new FileConfigSource(f.getAbsolutePath)
      assert(fs.get("/sfdc/sandbox/active").contains("1"))
      assert(fs.get("/sfdc/sandbox/domain").contains("test"))
      assert(fs.get("/sfdc/username").isEmpty)
    } finally f.delete()
    assert(new FileConfigSource("/nonexistent/graft.properties")
      .get("/sfdc/username").isEmpty)
  }

  test("chain is first-hit-wins (env overrides file)") {
    val file = new MapConfigSource(Map("/batch_size" -> "1", "/interval" -> "9"))
    val env = new MapConfigSource(Map("/batch_size" -> "50"))
    val cs = ConfigSource.chain(env, file)
    assert(cs.get("/batch_size").contains("50"))
    assert(cs.get("/interval").contains("9"))
    assert(cs.get("/absent").isEmpty)
  }

  test("require names the missing path (startup fails before subscribe)") {
    val e = intercept[IllegalArgumentException] {
      new MapConfigSource(Map.empty).require("/sfdc/username", secure = true)
    }
    assert(e.getMessage.contains("/sfdc/username"))
  }

  test("S7 startup: production branch — active=0, fixed login domain, prod keys") {
    val cs = new MapConfigSource(Map(
      "/sfdc/sandbox/active" -> "0",
      "/sfdc/username" -> "prod@example.com",
      "/sfdc/password" -> "pw",
      "/sfdc/security_token" -> "tok",
      // sandbox keys present but must NOT be read on this branch
      "/sfdc/sandbox/username" -> "sb@example.com"))
    val c = SfdcCredentials.resolve(cs)
    assert(c == SfdcCredentials("login", "prod@example.com", "pw", "tok"))
    assert(c.soapPassword == "pwtok") // password+token concat, ref behavior
    assert(c.loginUrl == "https://login.salesforce.com")
  }

  test("S7 startup: sandbox branch — any non-0 flag selects sandbox namespace") {
    val cs = new MapConfigSource(Map(
      "/sfdc/sandbox/active" -> "1",
      "/sfdc/sandbox/domain" -> "test",
      "/sfdc/sandbox/username" -> "sb@example.com",
      "/sfdc/sandbox/password" -> "spw",
      "/sfdc/sandbox/security_token" -> "stok"))
    val c = SfdcCredentials.resolve(cs)
    assert(c == SfdcCredentials("test", "sb@example.com", "spw", "stok"))
    assert(c.loginUrl == "https://test.salesforce.com")
    // absent flag ≡ production (the reference only enters sandbox on a
    // stored non-"0" value)
    val missing = intercept[IllegalArgumentException] {
      SfdcCredentials.resolve(new MapConfigSource(Map.empty))
    }
    assert(missing.getMessage.contains("/sfdc/username"))
  }

  test("Config.fromSource reads BATCH_SIZE/INTERVAL/stream/replay, defaults elsewhere") {
    val cs = new EnvConfigSource(Map(
      "INTERVAL" -> "5", "TARGET_DELIVERY_STREAM" -> "cdc-out"))
    val c = CdcPipeline.Config.fromSource(cs)
    assert(c == CdcPipeline.Config(5, "cdc-out"))
    // absent keys keep engine defaults
    assert(CdcPipeline.Config.fromSource(new MapConfigSource(Map.empty)) ==
      CdcPipeline.Config())
  }

  test("login material flows into the SOAP envelope (seam closes into S7)") {
    val c = SfdcCredentials("login", "u@example.com", "pw", "tok")
    val env = graft.sources.SfdcAuth.loginEnvelope(c.username, c.soapPassword)
    assert(env.contains("u@example.com"))
    assert(env.contains("pwtok"))
  }
}
