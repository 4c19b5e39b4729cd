package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** Driver-side entity-API organ lookup — the per-dataset tissue fallback
  * the reference applies when no tissue argument is supplied
  * (`bin/concatenate.py:22-28`: GET `{entity}/dataset/{uuid}/organs/` →
  * organ code, `organ_types.yaml` code → name, strip the " (Left)" /
  * " (Right)" laterality suffix; applied at `:60-61` only for datasets
  * whose tissue is not already known).
  *
  * Deliberately DRIVER-SIDE, like [[EsFetch]]: the lookup universe is the
  * dataset dimension (one row per dataset, ≤ thousands), and the result
  * enters the plan as a broadcast-sized (dataset, tissue) dim — executors
  * never open HTTP connections. Each code is fetched ONCE per distinct
  * dataset regardless of how many cells it annotates.
  *
  * Failure semantics are loud where the reference's are silent: a non-200
  * status, an empty body, or a code absent from the organ dictionary all
  * throw with the dataset named — a fallback that silently mislabels
  * tissue poisons every downstream group-by. Every request is BOUNDED:
  * the client carries a connect timeout, each GET a request timeout, and
  * transient failures (I/O, timeout, 5xx/429) get exactly `retries`
  * deterministic re-attempts before the loud failure — a stuck endpoint
  * can delay a product build by at most (retries+1)×requestTimeout per
  * dataset, never hang it.
  */
object EntityApi {

  /** Strip the reference's laterality suffixes (`concatenate.py:28`). */
  def stripLaterality(organName: String): String =
    organName.replace(" (Left)", "").replace(" (Right)", "")

  /** Normalize the organ-code response body. The reference's own parsing
    * is broken (it keys `organ_dict` on the `requests.Response` OBJECT,
    * `concatenate.py:26-27`), so there is no working behavior to match;
    * the live endpoint returns JSON. Accept the three shapes a
    * single-organ answer takes — bare `LK`, JSON string `"LK"`, and
    * one-element JSON array `["LK"]` — and fail loudly on anything else
    * (a multi-organ array is a data-model surprise the caller must see,
    * not a silent first-element pick). */
  def normalizeOrganBody(body: String, dataset: String): String = {
    val t = body.trim
    val unArr =
      if (t.startsWith("[") && t.endsWith("]")) t.substring(1, t.length - 1).trim
      else t
    require(!unArr.contains(","),
      s"entity API returned multiple organ codes for dataset '$dataset': " +
        body.take(200))
    val unQuot =
      if (unArr.length >= 2 && unArr.startsWith("\"") && unArr.endsWith("\""))
        unArr.substring(1, unArr.length - 1).trim
      else unArr
    require(unQuot.nonEmpty && !unQuot.exists(c => c == '{' || c == '}' ||
        c == '[' || c == ']' || c == '"'),
      s"entity API returned an unparseable organ body for dataset " +
        s"'$dataset': ${body.take(200)}")
    unQuot
  }

  /** GET the organ code for one dataset from the entity endpoint, with a
    * per-request timeout and `retries` bounded re-attempts on transient
    * failures (connect/read errors, request timeout, 5xx, 429). A
    * definitive non-200 (404, 403, …) fails immediately — retrying a
    * missing dataset cannot make it exist. */
  def organCode(client: HttpClient, entityEndpoint: String, dataset: String,
      requestTimeout: Duration = Duration.ofSeconds(30),
      retries: Int = 1): String = {
    val uri = URI.create(
      s"${entityEndpoint.stripSuffix("/")}/dataset/$dataset/organs/")
    val req = HttpRequest.newBuilder(uri).timeout(requestTimeout).GET().build()
    var attempt = 0
    var lastTransient: String = ""
    while (attempt <= retries) {
      attempt += 1
      try {
        val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
        val sc = resp.statusCode()
        if (sc == 200) {
          val code = normalizeOrganBody(resp.body(), dataset)
          require(code.nonEmpty, s"entity API returned an empty organ code " +
            s"for dataset '$dataset' ($uri)")
          return code
        } else if (sc >= 500 || sc == 429) {
          lastTransient = s"HTTP $sc: ${resp.body().take(200)}"
        } else {
          // definitive client-side answer — no retry
          throw new IllegalArgumentException(
            s"entity API answered $sc for dataset '$dataset' ($uri): " +
              resp.body().take(200))
        }
      } catch {
        case e: IllegalArgumentException => throw e
        case e: InterruptedException =>
          // cancellation is NOT a transient endpoint failure: restore
          // the flag and propagate instead of burning retries and
          // masking it as an "entity API failed" error
          Thread.currentThread().interrupt()
          throw e
        case e: java.io.IOException =>
          lastTransient = s"${e.getClass.getSimpleName}: ${e.getMessage}"
      }
    }
    throw new IllegalArgumentException(
      s"entity API failed for dataset '$dataset' ($uri) after $attempt " +
        s"attempt(s); last transient failure: $lastTransient")
  }

  /** Resolve tissue names for `datasets` via the entity API + organ
    * dictionary (the [[YamlDim.loadMap]] of `organ_types.yaml`). One GET
    * per distinct dataset, driver-side; unknown codes fail loudly with
    * the dataset and code named (the reference's `organ_dict[organ_code]`
    * KeyErrors the same way, `concatenate.py:27`). The client is built
    * with a connect timeout so an unreachable endpoint fails in bounded
    * time instead of hanging the build. */
  def resolveTissues(entityEndpoint: String, datasets: Seq[String],
      organDict: Map[String, String],
      connectTimeout: Duration = Duration.ofSeconds(10),
      requestTimeout: Duration = Duration.ofSeconds(30),
      retries: Int = 1): Map[String, String] = {
    val client = HttpClient.newBuilder()
      .connectTimeout(connectTimeout).build()
    datasets.distinct.map { ds =>
      val code = organCode(client, entityEndpoint, ds, requestTimeout, retries)
      val name = organDict.getOrElse(code, throw new IllegalArgumentException(
        s"entity API returned organ code '$code' for dataset '$ds' " +
          "but the organ dictionary has no such code"))
      ds -> stripLaterality(name)
    }.toMap
  }
}
