"""Write-Audit-Publish (WAP) on a linear snapshot log.

The lakehouse ingestion-quality pattern (Iceberg ships it via branch
writes + cherry-pick; Netflix popularized the name): new data must
pass an audit BEFORE any consumer can read it. This engine's snapshot
log is linear, so WAP is expressed with the two primitives the
metadata layer already has:

- consumers read through the ``published`` TAG (``scan(tag=...)``),
  never the head — the tag is the publish pointer;
- ``audited_append`` appends (the candidate snapshot exists at the
  head but is unpublished), runs the audit against exactly the
  candidate rows (incremental scan — the audit cost is O(batch), not
  O(table)), then either advances the tag (publish) or commits a
  removal of exactly the candidate's files against the CURRENT head
  (history-preserving; concurrent commits that landed during the
  audit survive, and the rejected files become orphans for GC).

Crash safety: every step is one of the engine's existing atomic
commits or tag PUTs. A crash between append and publish leaves the
tag on the last published snapshot — consumers never see unaudited
rows; re-running the job under its job id finds the committed
candidate (append's job-id guard) and audits it unless it was
published or rejected already.

The reference has no audit gate (it trusts its ingest end-to-end);
this is north-rule operational surface for a 10^12-row table where a
bad batch must never reach readers.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame

from . import meta

#: the default publish pointer
PUBLISHED_TAG = "published"


def publish_init(table: meta.Table, tag: str = PUBLISHED_TAG) -> int:
    """Point the publish tag at the current head (bootstrap)."""
    sid = table.current_snapshot().snapshot_id
    table.set_tag(tag, sid)
    return sid


def published_scan(table: meta.Table, tag: str = PUBLISHED_TAG) -> DataFrame:
    """What consumers read: the table at the publish pointer."""
    return table.scan(tag=tag)


def audited_append(
    table: meta.Table,
    df: DataFrame,
    audit_fn,
    job_id: str | None = None,
    tag: str = PUBLISHED_TAG,
    parts: int | None = None,
) -> dict:
    """Append ``df`` as a candidate snapshot, audit ONLY the new rows,
    publish on success / roll back on failure.

    ``audit_fn(new_rows_df) -> None`` raises (any exception) to reject
    the batch. Returns a report dict: {snapshot_id, published,
    audit_error, rows_in_batch}.
    """
    job_id = job_id or f"wap-{uuid.uuid4().hex[:8]}"
    head = table.current_snapshot().snapshot_id
    snap = meta.append(table, df, job_id=job_id, parts=parts)
    outcome = candidate_outcome(table, snap, tag) if snap.snapshot_id <= head else None
    if outcome is not None:
        # a re-submitted job whose candidate was published or rejected
        # already: it is not audited or rejected a second time
        return _report(snap, outcome)
    return resolve_candidate(table, snap, audit_fn, tag=tag)


def _report(snap, published: bool, audit_error=None, rows_in_batch=None) -> dict:
    return {
        "snapshot_id": snap.snapshot_id,
        "published": published,
        "audit_error": audit_error,
        "rows_in_batch": rows_in_batch,
    }


def candidate_outcome(table: meta.Table, snap, tag: str = PUBLISHED_TAG) -> bool | None:
    """How a committed candidate was resolved: False when a later
    rejection commit names it, True when the publish tag reached it
    (resolution is serial, so a later tag implies it finished), None
    while unresolved (a crash between its append and its audit)."""
    if any(
        table.snapshot(i).summary.get("wap_rejected_snapshot") == snap.snapshot_id
        for i in table.snapshot_ids()
        if i > snap.snapshot_id
    ):
        return False
    tag_at = table.tags().get(tag)
    return True if tag_at is not None and tag_at >= snap.snapshot_id else None


def resolve_candidate(
    table: meta.Table, snap, audit_fn, tag: str = PUBLISHED_TAG
) -> dict:
    """Audit a committed candidate snapshot's OWN rows — exactly
    (parent, snap], never a pre-append head diff: the append may have
    rebased over a concurrent commit, and diffing against the
    pre-append head would pull that stranger's files into the audit
    scope and (on rejection) remove them — then publish or reject.

    Separately callable so a job that crashed between the append
    commit and the audit can be RESUMED (streaming redelivery): the
    candidate must never stay half-resolved, or a later publish would
    expose its unaudited rows through the tag."""
    parent = table.snapshot(snap.parent_id)
    cand_files = set(table.live_files(snap)) - set(table.live_files(parent))
    new_rows = table.incremental_scan(parent.snapshot_id, snap.snapshot_id)
    try:
        audit_fn(new_rows)
    except Exception as e:  # noqa: BLE001 — ANY audit failure rejects
        _reject_candidate(table, snap, cand_files)
        return _report(snap, False, audit_error=str(e))
    # never regress the publish pointer: a resumed resolve of an old
    # candidate only advances the tag if it is still behind
    current_tag = table.tags().get(tag)
    if current_tag is None or current_tag < snap.snapshot_id:
        table.set_tag(tag, snap.snapshot_id)
    return _report(snap, True, rows_in_batch=new_rows.count())


def _reject_candidate(table: meta.Table, snap, cand_files: set[str]) -> None:
    """Remove exactly the rejected candidate's files from the live set.

    Round-4 rolled the HEAD back to the pre-append snapshot, which
    silently wiped any commit that landed between the append and the
    rollback (another writer's append, a delete-mor) — the concurrent-
    writer hole Iceberg avoids with branch writes (ADVICE r4 / VERDICT
    r4 #3). On this linear log the surgical fix: commit a removal of
    ONLY the candidate's added files against the CURRENT head, so
    interleaved commits survive. If a concurrent rewrite already
    consumed any candidate file (its rows now live inside someone
    else's output), a targeted removal can no longer excise the batch —
    raise CommitConflict rather than leave rejected rows published."""
    current = table.current_snapshot()
    cur_live = set(table.live_files(current))
    missing = cand_files - cur_live
    if missing:
        raise meta.CommitConflict(
            "WAP reject: a concurrent rewrite consumed the candidate's "
            f"files {sorted(missing)[:3]}... — rejected rows can no "
            "longer be surgically removed; resolve from the publish tag"
        )
    from .meta import _empty_manifest

    # the candidate's files are the commit's inputs (Table.commit's
    # default), which closes the TOCTOU window: a rewrite that consumes
    # them between the check above and the commit claim makes the
    # rebase validation raise CommitConflict instead of the removal
    # silently no-op'ing while the rejected rows live on inside the
    # rewrite's output
    table.commit(
        "rollback",
        _empty_manifest(table.stats_spec),
        removed_paths=cand_files,
        base=current,
        summary={"wap_rejected_snapshot": snap.snapshot_id},
    )


def snr_audit(min_snr_db: float = 30.0):
    """The standard audio audit: every clip in the batch must decode
    with SNR >= the gate (the north rule's per-row invariant) — a
    vectorized decode over ONLY the candidate rows."""
    from pyspark.sql import functions as F

    from .audio import verify_clips

    def audit(new_rows: DataFrame) -> None:
        bad = (
            verify_clips(new_rows)
            .filter(~F.col("pcm_ok") | (F.col("snr_db") < min_snr_db))
            .count()
        )
        if bad:
            raise ValueError(f"audit failed: {bad} clips below {min_snr_db} dB SNR")

    return audit
