"""The tmp-sibling/rename ledger swap on a Hadoop filesystem, and its
crash recovery.

``upsert_ledger_stream`` and ``kmv_ledger_stream`` both commit each
micro-batch's merged ledger through ``write_swapped``::

    write merged -> <dst>.tmp-<batch_id>
    rename <dst> -> <dst>.old-<batch_id>      # window opens
    rename <dst>.tmp-<batch_id> -> <dst>      # window closes
    delete <dst>.old-<batch_id>

A crash inside the window leaves ``dst`` missing while the prior ledger
is stranded in the ``.old`` sibling; without recovery the next batch's
``fs.exists(dst)`` check would silently rebuild the ledger from only
its own rows, permanently dropping all prior state.  ``recover_swap``
heals that window at batch start.
"""

from __future__ import annotations


def recover_swap(fs, dst) -> None:
    """Restore a ledger stranded mid-swap; drop superseded siblings.

    If ``dst`` is missing and one or more ``<name>.old-<batch_id>``
    siblings exist, the newest sibling IS the pre-batch ledger: rename
    it back to ``dst``.  The interrupted batch never committed to the
    stream checkpoint, so it replays and re-merges on top of the
    restored state -- no data is lost and no merge idempotence is
    required.  When ``dst`` exists, any ``.old-*`` siblings are
    leftovers of a crash after the commit rename (between
    ``rename(tmp, dst)`` and ``delete(old)``); delete them.

    ``fs``/``dst`` are py4j Hadoop ``FileSystem``/``Path`` handles.
    """
    parent, name = dst.getParent(), dst.getName()
    if parent is None or not fs.exists(parent):
        return
    olds = []
    for st in fs.listStatus(parent):
        n = st.getPath().getName()
        if n.startswith(name + ".old-"):
            try:
                olds.append((int(n.rsplit("-", 1)[1]), st.getPath()))
            except ValueError:
                continue
    olds.sort()
    if olds and not fs.exists(dst):
        # Hadoop FileSystem.rename reports most failures via a False
        # return, not an exception; a silently failed restore followed by
        # sibling cleanup would destroy every surviving copy of the prior
        # ledger.  Raise instead -- the batch retries with the siblings
        # intact.
        newest = olds.pop()[1]
        if not fs.rename(newest, dst):
            raise IOError(f"ledger recovery rename failed: {newest} -> {dst}")
    for _, p in olds:
        fs.delete(p, True)


def write_swapped(fs, dst, batch_id: int, df) -> None:
    """Write ``df`` to ``<dst>.tmp-<batch_id>`` and swap it in as ``dst``
    by two renames, dropping the superseded ledger last.  The write runs
    while the old ledger ``df`` may read is still in place.

    Hadoop ``FileSystem.rename`` reports most failures via a False
    return, not an exception; each rename is checked and raises, since
    an unchecked failure would let the stream checkpoint commit the
    batch against a stale (or missing) ledger.  A crash between the
    renames is healed by :func:`recover_swap` at the next batch start.

    ``fs``/``dst`` are py4j Hadoop ``FileSystem``/``Path`` handles.
    """
    tmp = dst.suffix(f".tmp-{batch_id}")
    old = dst.suffix(f".old-{batch_id}")
    fs.delete(tmp, True)
    df.write.mode("overwrite").parquet(str(tmp))
    if fs.exists(dst) and not fs.rename(dst, old):
        raise IOError(f"ledger swap rename failed: {dst} -> {old}")
    if not fs.rename(tmp, dst):
        raise IOError(f"ledger swap rename failed: {tmp} -> {dst}")
    fs.delete(old, True)
