package graft.reconcile

/** A postal address (reference `core/src/core/models/db/manufacturer.py:18-37`).
  * `baseHash` (city-state-country) is the merge key.
  */
final case class Address(
    name: String,
    city: String,
    state: String,
    country: String,
    address_lines: Seq[String],
    county: String,
    postal_code: String,
    latitude: Option[Double],
    longitude: Option[Double],
    place_id: String,
    phone_numbers: Seq[String],
    fax_numbers: Seq[String]) {
  def baseHash: String = s"$city-$state-$country"
}

/** T17 — address dedupe/merge (reference `core/src/core/utils/address_util.py:4-66`).
  *
  * Bug-compatible by default (`lineUnionQuirk = true`): the reference
  * tests `bool(A_lines | B_lines)` — set UNION, truthy whenever either
  * side has any line — where the comment says "at least one address line
  * matches" (intersection). With the quirk on, any two line-carrying
  * addresses with the same base hash and compatible postal codes merge.
  * Pass `lineUnionQuirk = false` for the evidently-intended
  * intersection semantics (SURVEY.md §7.5 risk 4 recommends keeping the
  * quirk behind a flag).
  *
  * The pairwise walk only ever compares ADJACENT survivors (i with i+1),
  * exactly like the reference loop — order matters, which is why the
  * Spark form buffers (seq, address) pairs and folds in `finish`.
  */
object AddressMerge {

  private def seqOf(s: Seq[String]): Seq[String] = Option(s).getOrElse(Nil)

  def canMerge(a: Address, b: Address, lineUnionQuirk: Boolean = true): Boolean = {
    if (a.baseHash != b.baseHash) return false
    if (a.postal_code != null && a.postal_code.nonEmpty &&
        b.postal_code != null && b.postal_code.nonEmpty &&
        a.postal_code != b.postal_code) return false
    val (al, bl) = (seqOf(a.address_lines), seqOf(b.address_lines))
    if (al.isEmpty || bl.isEmpty) return true
    if (lineUnionQuirk) (al.toSet ++ bl.toSet).nonEmpty
    else al.toSet.intersect(bl.toSet).nonEmpty
  }

  private def firstNonNull(a: String, b: String): String =
    if (a != null && a.nonEmpty) a else b

  def merge(a: Address, b: Address, lineUnionQuirk: Boolean = true): Option[Address] = {
    if (!canMerge(a, b, lineUnionQuirk)) return None
    Some(Address(
      name = firstNonNull(a.name, b.name),
      city = firstNonNull(a.city, b.city),
      state = firstNonNull(a.state, b.state),
      country = firstNonNull(a.country, b.country),
      address_lines = if (seqOf(a.address_lines).nonEmpty) a.address_lines else b.address_lines,
      county = firstNonNull(a.county, b.county),
      postal_code = firstNonNull(a.postal_code, b.postal_code),
      latitude = a.latitude,    // A's coordinates win
      longitude = a.longitude,
      place_id = firstNonNull(a.place_id, b.place_id),
      phone_numbers = seqOf(a.phone_numbers).toSet.intersect(seqOf(b.phone_numbers).toSet).toSeq.sorted,
      fax_numbers = seqOf(a.fax_numbers).toSet.intersect(seqOf(b.fax_numbers).toSet).toSeq.sorted))
  }

  /** Reference loop shape: merge adjacent survivors in place. */
  def dedupe(addresses: Seq[Address], lineUnionQuirk: Boolean = true): Vector[Address] = {
    val buf = addresses.toBuffer
    var i = 0
    while (i < buf.length - 1) {
      merge(buf(i), buf(i + 1), lineUnionQuirk) match {
        case Some(m) => buf(i) = m; buf.remove(i + 1)
        case None => i += 1
      }
    }
    buf.toVector
  }
}
