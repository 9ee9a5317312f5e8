"""Snapshot expiry + orphan-file GC.

Reachability-based, per the north rule: a data file may be deleted only
if NO retained snapshot's manifests reference it. The reachable set is
the union of retained manifests; the delete list is the physical
listing MINUS that set (BASELINE.json: "orphan-file GC via anti-join of
live vs. referenced paths").

The anti-join runs on the driver as one Arrow set difference
(``pc.is_in``) of the ``data/`` listing against the retained manifests'
``file_path`` columns: both sides are already driver-resident (the
listing comes from ``storage.list``, the manifests from the same loads
every commit makes), so it costs no Spark job — metadata at any size
this engine commits never justifies executor round-trips (round-1
driver bench measured ~46 s for four tiny Spark jobs late in a
session).

Safety against concurrent writers (the promoted-but-uncommitted
window): writers register a lineage dir (``Table.mark_job_active``)
before any file lands in ``data/``. A file is deleted only if
(a) unreferenced by retained snapshots, (b) not owned by an in-flight
job (lineage dir present, no committing snapshot), and (c) older than
``older_than_s`` (mtime-based, Iceberg remove_orphan_files-style; 0
disables the age gate — safe here because of (b), but production runs
against writers that skip mark_job_active should set an age).

Crash recovery: protection (b) alone would shield a crashed job's
files forever (its lineage marker never commits and never ages out) —
an unbounded storage leak at real crash rates. ``abandoned_after_s``
bounds it: an uncommitted job whose *newest* lineage-checkpoint mtime
is older than the threshold is declared abandoned — its files lose
in-flight protection (falling through to the normal orphan rules) and
its lineage + staging areas are pruned. A live job refreshes its
lineage mtimes every completed unit, so only a genuinely dead job can
age out.

Expiry also prunes old snapshot JSONs, unreferenced manifest files and
the lineage dirs of committed jobs (checkpoints are only needed until
the commit lands). The newest snapshot is always retained.
"""

from __future__ import annotations

import time

import pyarrow as pa
import pyarrow.compute as pc

from .meta import Table


def _safe_mtime(storage, rel: str, default: float) -> float:
    try:
        return storage.mtime(rel)
    except FileNotFoundError:
        return default  # vanished concurrently → treat as fresh (keep)


def _committed_job_ids(table: Table, snapshot_ids: list[int]) -> set[str]:
    out = set()
    for i in snapshot_ids:
        jid = table.snapshot(i).summary.get("job_id")
        if jid:
            out.add(jid)
    return out


def expire_snapshots(
    table: Table,
    retain_last: int = 2,
    older_than_s: float = 0.0,
    abandoned_after_s: float = 0.0,
) -> dict:
    """Expire all but the last ``retain_last`` snapshots, then GC data
    files and manifests unreachable from the retained set. Returns a
    report of everything deleted.

    ``abandoned_after_s`` > 0: uncommitted jobs whose newest lineage
    mtime exceeds the threshold are treated as crashed — unprotected
    and their lineage/staging pruned (see module docstring)."""
    now = time.time()
    ids = table.snapshot_ids()
    retained_ids = ids[-max(1, retain_last):]
    # pin the last-cluster snapshot (marker carried forward by every
    # commit, meta.Table.commit): expiring it would silently degrade
    # the next cluster_incremental to a full-table recluster. It ages
    # out naturally once a newer cluster commit moves the marker.
    if ids:
        lc = table.snapshot(ids[-1]).summary.get("last_cluster_snapshot_id")
        if lc is not None and lc in ids:
            retained_ids = sorted(set(retained_ids) | {lc})
    # pin every TAGGED snapshot (Iceberg refs semantics): tags are
    # durable named baselines; their snapshots and files survive any
    # retain_last until the tag is deleted
    tagged = {sid for sid in table.tags().values() if sid in ids}
    if tagged:
        retained_ids = sorted(set(retained_ids) | tagged)
    expired_ids = [i for i in ids if i not in retained_ids]
    retained = [table.snapshot(i) for i in retained_ids]
    committed_jobs = _committed_job_ids(table, ids)

    # jobs with a lineage entry but no committing snapshot are in
    # flight — their promoted-but-uncommitted files are NOT orphans (yet).
    # ORDER MATTERS: list data/ BEFORE _lineage/. Writers mark the job
    # active before promoting, so any file visible in the data listing
    # either has its marker visible in the (later) lineage listing or
    # belongs to a committed job — the reverse order would let a writer
    # that registered between the two LISTs lose its files (TOCTOU).
    st = table.storage
    manifest_paths = sorted({m for s in retained for m in s.manifests})
    listing = st.list("data")
    lineage_listing = st.list("_lineage")
    lineage_jobs = sorted({p.split("/", 2)[1] for p in lineage_listing})
    active_jobs = [j for j in lineage_jobs if j not in committed_jobs]

    # crash recovery: an uncommitted job whose newest lineage mtime is
    # older than abandoned_after_s is dead, not in flight — drop its
    # protection so its promoted files fall through to the orphan rules
    abandoned_jobs: list[str] = []
    if abandoned_after_s > 0:
        for j in list(active_jobs):
            marks = [p for p in lineage_listing if p.split("/", 2)[1] == j]
            newest = max((_safe_mtime(st, p, now) for p in marks), default=now)
            if now - newest >= abandoned_after_s:
                active_jobs.remove(j)
                abandoned_jobs.append(j)

    def protected(rel: str) -> bool:
        name = rel.split("/", 1)[1]
        if any(name.startswith(f"{j}-") for j in active_jobs):
            return True
        if older_than_s > 0:
            try:
                if now - st.mtime(rel) < older_than_s:
                    return True
            except FileNotFoundError:
                return True
        return False

    # the anti-join: listing minus every retained manifest's file_path
    # (each retained manifest loaded once)
    listed = pa.array(listing, pa.string())
    referenced = pa.chunked_array(
        [table.manifest_entries(s).column("file_path") for s in retained], pa.string()
    )
    unreferenced = listed.filter(pc.invert(pc.is_in(listed, value_set=referenced)))
    orphans = [p for p in unreferenced.to_pylist() if not protected(p)]

    for p in orphans:
        st.delete(p)

    # prune expired snapshot JSONs + the manifests they referenced.
    # Only known-dead manifests (referenced by an expired snapshot, not
    # by any retained one) are deleted unconditionally — a blanket
    # "not in live set" sweep would race a concurrent committer whose
    # manifest lands moments before its snapshot claim. Orphan manifests
    # (losing committers' rebase leftovers) fall to the age gate.
    live_manifests = set(manifest_paths)
    expired_manifests = set()
    for i in expired_ids:
        expired_manifests.update(table.snapshot(i).manifests)
        st.delete(f"metadata/v{i:05d}.json")
    removed_manifests = []
    for rel in sorted(expired_manifests - live_manifests):
        st.delete(rel)
        removed_manifests.append(rel)
    if older_than_s > 0:
        for rel in st.list("metadata/manifests"):
            if rel not in live_manifests and rel not in expired_manifests:
                if now - _safe_mtime(st, rel, now) >= older_than_s:
                    st.delete(rel)
                    removed_manifests.append(rel)

    # lineage checkpoints of committed jobs have served their purpose;
    # abandoned (crashed, aged-out) jobs' checkpoints are dead weight too
    pruned_lineage = []
    for j in lineage_jobs:
        if j in committed_jobs or j in abandoned_jobs:
            st.delete_prefix(f"_lineage/{j}")
            pruned_lineage.append(j)

    # stale staging of committed jobs (a crash between write and
    # promote leaves it; resume hygiene also wipes it, but the job may
    # never re-run). In-flight jobs' staging is never touched;
    # abandoned jobs' staging is reclaimed with their lineage.
    staging_jobs = sorted({p.split("/", 2)[1] for p in st.list("_staging")})
    for j in staging_jobs:
        if j in committed_jobs or j in abandoned_jobs:
            st.delete_prefix(f"_staging/{j}")

    # age-gated sweep of crash-leftover temp objects: Storage.put's
    # '.tmp-*' files (crash between write and publish) and any legacy
    # root-level '.manifest-*' staging temps. Never younger than the
    # gate — a concurrent writer's temp is mid-publish.
    tmp_gate = older_than_s if older_than_s > 0 else 3600.0
    swept_tmp = []
    for prefix in ("metadata", "_lineage", "_staging"):
        for rel in st.list(prefix):
            if rel.rsplit("/", 1)[-1].startswith(".tmp-"):
                if now - _safe_mtime(st, rel, now) >= tmp_gate:
                    st.delete(rel)
                    swept_tmp.append(rel)

    return {
        "expired_snapshots": expired_ids,
        "retained_snapshots": retained_ids,
        "deleted_files": sorted(orphans),
        "deleted_manifests": removed_manifests,
        "pruned_lineage_jobs": pruned_lineage,
        "active_jobs_protected": active_jobs,
        "abandoned_jobs": abandoned_jobs,
        "swept_tmp": swept_tmp,
    }


def gc_orphans(
    table: Table, older_than_s: float = 0.0, abandoned_after_s: float = 0.0
) -> list[str]:
    """GC-only entry point: remove data files unreachable from ANY
    existing snapshot (e.g. output of crashed jobs), keeping every
    snapshot intact."""
    report = expire_snapshots(
        table,
        retain_last=len(table.snapshot_ids()),
        older_than_s=older_than_s,
        abandoned_after_s=abandoned_after_s,
    )
    return report["deleted_files"]
