package graft.core

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** Secret access behind a trait (reference `hooks/aws_secret_manager.py`):
  * a map implementation for tests and local runs, and the AWS Secrets
  * Manager implementation below. */
trait SecretProvider extends Serializable {
  def secret(name: String): Option[String]
}
class MapSecretProvider(m: Map[String, String]) extends SecretProvider {
  def secret(name: String): Option[String] = m.get(name)
}

/** First-hit-wins chain: a local override in front of a cloud provider
  * is the standard deploy layering. */
class ChainedSecretProvider(providers: Seq[SecretProvider]) extends SecretProvider {
  def secret(name: String): Option[String] =
    providers.iterator.map(_.secret(name)).collectFirst { case Some(v) => v }
}

/** AWS Secrets Manager provider behind a RUNTIME reflective probe — the
  * production implementation of the reference's
  * `hooks/aws_secret_manager.py:30-56`, with NO compile-time SDK
  * dependency (this environment ships no AWS jar; the probe keeps the
  * code path real instead of hypothetical, same treatment as the Delta
  * CDF probe in `source/ChangeFeed.scala`). `secret` resolves through
  * the v2 SDK via reflection only when the jar is present; otherwise
  * None, so a ChainedSecretProvider falls through to its next provider.
  * `probe` and `fetch` are injectable for tests. */
class AwsSecretsProvider(
    probe: () => Boolean = () => AwsSecretsProvider.available,
    fetch: String => Option[String] = AwsSecretsProvider.fetchReflective)
    extends SecretProvider {
  def secret(name: String): Option[String] = if (probe()) fetch(name) else None
}

object AwsSecretsProvider {
  /** True iff an AWS Secrets Manager SDK (v2 or v1) is on the classpath. */
  def available: Boolean = Seq(
    "software.amazon.awssdk.services.secretsmanager.SecretsManagerClient",
    "com.amazonaws.services.secretsmanager.AWSSecretsManagerClientBuilder")
    .exists(c => try { Class.forName(c); true } catch { case _: Throwable => false })

  /** v2-SDK GetSecretValue via reflection. None for a missing secret
    * (ResourceNotFound); auth/availability errors PROPAGATE — silently
    * mapping them to None would misread an outage as "secret absent". */
  private[core] def fetchReflective(name: String): Option[String] = {
    val clientCls = Class.forName(
      "software.amazon.awssdk.services.secretsmanager.SecretsManagerClient")
    val reqCls = Class.forName(
      "software.amazon.awssdk.services.secretsmanager.model.GetSecretValueRequest")
    val client =
      try clientCls.getMethod("create").invoke(null)
      catch { // surface the SDK's own error (no credentials, no region)
        case e: java.lang.reflect.InvocationTargetException if e.getCause != null =>
          throw e.getCause
      }
    try {
      val b0 = reqCls.getMethod("builder").invoke(null)
      val b1 = b0.getClass.getMethod("secretId", classOf[String]).invoke(b0, name)
      val req = b1.getClass.getMethod("build").invoke(b1)
      val resp = clientCls.getMethod("getSecretValue", reqCls).invoke(client, req)
      Option(resp.getClass.getMethod("secretString").invoke(resp)
        .asInstanceOf[String])
    } catch {
      case e: java.lang.reflect.InvocationTargetException
          if e.getCause != null &&
            e.getCause.getClass.getSimpleName.contains("ResourceNotFound") =>
        None
      case e: java.lang.reflect.InvocationTargetException if e.getCause != null =>
        throw e.getCause
    } finally clientCls.getMethod("close").invoke(client)
  }
}

/** Named connection (reference `connection.py:12-74`): same field shape so
  * reference conf files port 1:1. `extra` is a JSON object of free-form
  * settings (api keys, bucket names, …). */
case class Connection(connId: String, host: String = "", login: String = "",
                      password: String = "", schema: String = "",
                      port: Option[Int] = None, extra: Map[String, String] = Map.empty) {
  /** Base URL like the reference's HttpHook (`hooks/http.py:76-131`):
    * schema://host[:port], schema defaulting to http. */
  def baseUrl: String = {
    val sch = if (schema.nonEmpty) schema else "http"
    val h = if (host.contains("://")) host else s"$sch://$host"
    port.map(p => s"$h:$p").getOrElse(h)
  }
}

/** Registry hydrated from ONE secret holding a JSON object
  * {connId: {host, login, password, schema, port, extra}} — identical to
  * the reference's layout; memoized like its lru_cache. */
class ConnectionRegistry(provider: SecretProvider, secretName: String) extends Serializable {
  @transient private lazy val parsed: Map[String, Connection] = {
    val raw = provider.secret(secretName).getOrElse("{}")
    val root = new ObjectMapper().readTree(raw)
    root.properties().asScala.map { e =>
      val id = e.getKey; val n = e.getValue
      def str(f: String): String =
        if (n.hasNonNull(f)) n.get(f).asText() else ""
      val extra: Map[String, String] =
        if (n.hasNonNull("extra")) {
          val ex = n.get("extra")
          val node = if (ex.isTextual) new ObjectMapper().readTree(ex.asText()) else ex
          node.properties().asScala.map(p => p.getKey -> p.getValue.asText()).toMap
        } else Map.empty
      id -> Connection(id, str("host"), str("login"), str("password"),
        str("schema"),
        if (n.hasNonNull("port")) Some(n.get("port").asInt()) else None, extra)
    }.toMap
  }
  def get(connId: String): Connection =
    parsed.getOrElse(connId, throw new NoSuchElementException(s"connection not found: $connId"))
}

/** Retry with exponential backoff — the reference's tenacity policy
  * (`hooks/clevertap.py:21-25`): stop after N attempts, retry on
  * connection-level errors only. Serializable so sinks can carry it into
  * executors. A request timeout (`HttpTimeoutException` from
  * JdkHttpPoster's per-request bound) is deliberately NOT retried: the
  * POST was sent and may have landed, and the destinations do not dedupe,
  * so the batch is reported failed instead of possibly sent twice. */
case class RetryPolicy(maxAttempts: Int = 3, baseDelayMs: Long = 200,
                       maxDelayMs: Long = 10000) extends Serializable {
  def shouldRetry(t: Throwable): Boolean = t match {
    case _: java.net.ConnectException | _: java.net.SocketException |
         _: java.net.http.HttpConnectTimeoutException |
         _: java.net.SocketTimeoutException => true
    case _ => false
  }
  def run[T](f: => T): T = {
    var attempt = 0
    var delay = baseDelayMs
    while (true) {
      attempt += 1
      try return f
      catch {
        case t: Throwable if attempt < maxAttempts && shouldRetry(t) =>
          Thread.sleep(delay)
          delay = math.min(delay * 2, maxDelayMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
