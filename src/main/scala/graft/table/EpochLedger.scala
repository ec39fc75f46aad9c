package graft.table

/** The bounded applied-epoch ledger of every epoch-idempotent store that
  * rewrites its metadata each epoch (the lake table's manifest, the
  * rollup stores' version files): such a ledger must not grow with epoch
  * count — the metadata-chain failure mode of a 10^5-epoch store.
  * `floor` means "every epochId ≤ floor is applied" and `above` holds
  * only applied ids ABOVE the floor. The floor advances over a
  * CONTIGUOUS applied prefix (streaming epochIds are 0,1,2,… so the list
  * stays empty in steady state); sparse manual ids stay in the list
  * until the gap fills. Epoch ids must be ≥ 0.
  */
final case class EpochLedger(floor: Long = -1L, above: List[Long] = Nil) {

  def contains(epochId: Long): Boolean = epochId <= floor || above.contains(epochId)

  /** The ledger with `epochId` applied. */
  def +(epochId: Long): EpochLedger = {
    require(epochId >= 0, s"epoch ids must be >= 0, got $epochId")
    var f = floor
    var rest = (above :+ epochId).filter(_ > f).distinct.sorted
    while (rest.nonEmpty && rest.head == f + 1) {
      f = rest.head
      rest = rest.tail
    }
    EpochLedger(f, rest)
  }
}
