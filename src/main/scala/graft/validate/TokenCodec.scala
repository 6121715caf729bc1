package graft.validate

import java.nio.charset.StandardCharsets
import java.util.Base64
import com.fasterxml.jackson.databind.ObjectMapper

/** Deterministic stand-in for the reference's `GennyToken` claim extraction
  * (`new GennyToken(json.getString("token"))`, TopologyProducer.java:174;
  * claims used at TP:180-181, TP:190, TP:224, TP:280-281).
  *
  * `GennyToken` lives in the external `qwandaq` dependency (pom.xml:38-48)
  * and talks to Keycloak; neither is available or observable here. We define
  * the fixture-token convention ourselves: an unsigned JWT
  * `base64url(header) "." base64url(claimsJson) "." sig` whose claims JSON
  * carries `sub` (uuid), `email`, and `userCode` directly. The decoder is
  * pure and deterministic — no network, no crypto.
  *
  * A token that does not decode maps to the reference's exception path
  * (catch-all TP:275-277 → invalid; and quirk Q3: the reference would then
  * NPE on `userToken.getUuid()` at TP:280 and crash the stream thread — our
  * engine instead rejects with reason=MALFORMED, uuid=null).
  */
final case class TokenClaims(token: String, uuid: String, email: String, userCode: String)

object TokenCodec {
  // Jackson ships with Spark (/opt/spark/jars); safe on executor classpath.
  private lazy val mapper = new ObjectMapper()

  private val headerB64: String =
    Base64.getUrlEncoder.withoutPadding.encodeToString(
      """{"alg":"none","typ":"JWT"}""".getBytes(StandardCharsets.UTF_8))

  /** Build a fixture token for a user. */
  def encode(uuid: String, email: String, userCode: String): String = {
    val claims = mapper.createObjectNode()
    claims.put("sub", uuid)
    claims.put("email", email)
    claims.put("userCode", userCode)
    val payload = Base64.getUrlEncoder.withoutPadding.encodeToString(
      mapper.writeValueAsString(claims).getBytes(StandardCharsets.UTF_8))
    s"$headerB64.$payload.fixture"
  }

  /** Per-executor decode cache: token cardinality is the USER population,
    * not the turn count — a stream of 10^12 turns from 10^7 users decodes
    * each JWT once per executor instead of once per row. Bounded to keep
    * executor memory flat; misses beyond the cap just decode.
    */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[TokenClaims]]()
  private val CacheCap = 100000

  def decode(token: String): Option[TokenClaims] = {
    if (token == null) return None
    val hit = cache.get(token)
    if (hit != null) return hit
    val v = decodeUncached(token)
    if (cache.size < CacheCap) cache.put(token, v)
    v
  }

  /** Decode; None where the reference's `new GennyToken(...)` would throw. */
  private def decodeUncached(token: String): Option[TokenClaims] = {
    if (token == null) return None
    val parts = token.split("\\.")
    if (parts.length != 3) return None
    try {
      val json = new String(Base64.getUrlDecoder.decode(parts(1)), StandardCharsets.UTF_8)
      val node = mapper.readTree(json)
      val sub = node.path("sub")
      val email = node.path("email")
      val userCode = node.path("userCode")
      if (sub.isMissingNode || userCode.isMissingNode) None
      else Some(TokenClaims(token, sub.asText(), email.asText(""), userCode.asText()))
    } catch { case _: Exception => None }
  }
}
