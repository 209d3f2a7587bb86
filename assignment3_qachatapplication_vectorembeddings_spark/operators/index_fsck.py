"""Integrity checker (fsck) for the versioned index trees — the
operational complement to the maintenance protocol (round-7 hardening;
the reference outsources all of this to Pinecone's managed store).

Checks are DRIVER-SIDE metadata reads by default (one listing + one
small-file read per manifest/meta — safe to run on a live index under
concurrent writers); ``deep=True`` additionally runs Spark jobs to
verify row-level consistency between a derived index and its primary.

Report vocabulary:

- **errors** — protocol violations: a meta/manifest references a
  directory that does not exist (a reader resolving it would crash),
  an unparseable NEWEST manifest with no complete fallback, a revoked
  map naming unassigned segments, a newest derived meta whose
  ``format_version`` the engine does not serve. A healthy index NEVER
  has errors, even mid-maintenance.
- **warnings** — reclaimable or transient states: orphan generation /
  segment / quantizer dirs (vacuum fodder; also what an in-flight
  writer looks like from outside), expired lease files, a derived
  index whose indexed primary snapshot has been vacuumed (serving
  re-rank would fail LOUDLY — documented behavior, but worth seeing),
  a superseded meta of another ``format_version`` (left behind by a
  rebuild in place; readers never resolve it).
- **info** — version counts, live title/segment totals, lease counts.

Usage::

    from ..operators.index_fsck import fsck_primary, fsck_derived
    report = fsck_primary(vindex)
    report = fsck_derived(ann, deep=True)   # + row-level parity

CLI: ``python tools/index_fsck.py <primary_path> [derived_path ...]``
"""

from __future__ import annotations

import json
from datetime import datetime, timezone

from .index_sync import FORMAT_VERSION

__all__ = ["fsck_primary", "fsck_derived"]


def _parse_json(raw: bytes | None) -> dict | None:
    if raw is None:
        return None
    try:
        return json.loads(raw)
    except ValueError:
        return None


def _check_leases(vindex, lease_dir: str, report: dict) -> None:
    now = datetime.now(timezone.utc)
    live = expired = torn = 0
    for name in vindex._list_dir(lease_dir):
        if not name.endswith(".json"):
            continue
        payload = _parse_json(vindex._read_small_file(f"{lease_dir}/{name}"))
        if payload is None:
            torn += 1  # torn lease write: never blocks vacuum, not an error
            continue
        try:
            if datetime.fromisoformat(payload["expires_utc"]) < now:
                expired += 1
            else:
                live += 1
        except Exception:
            torn += 1
    report["info"]["leases"] = {"live": live, "expired": expired, "torn": torn}
    if expired:
        report["warnings"].append(
            f"{expired} expired lease file(s) at {lease_dir} (gc'd on the "
            "next lease listing; harmless)"
        )


def fsck_primary(vindex, *, deep: bool = False) -> dict:
    """Verify a :class:`~.index_maintenance.VectorIndex` tree."""
    report: dict = {"path": vindex.path, "errors": [], "warnings": [], "info": {}}
    versions = vindex._manifest_versions()
    report["info"]["manifest_versions"] = len(versions)
    if not versions:
        report["info"]["exists"] = False
        return report
    report["info"]["exists"] = True

    data_listing = {
        f"data/{n}" for n in vindex._list_dir(f"{vindex.path}/data")
    }
    complete: dict[int, dict] = {}
    for v in versions:
        payload = _parse_json(
            vindex._read_small_file(
                f"{vindex.manifest_dir}/{vindex._manifest_name(v)}"
            )
        )
        if payload is None or payload.get("complete") is not True:
            # only the NEWEST version may legitimately be mid-write
            if v != versions[-1]:
                report["warnings"].append(
                    f"manifest v{v} is torn/incomplete and superseded "
                    "(abandoned commit; vacuum fodder)"
                )
            elif len(versions) == 1:
                report["errors"].append(
                    "the only manifest is torn/incomplete — no readable "
                    "snapshot exists"
                )
            else:
                report["warnings"].append(
                    f"newest manifest v{v} is mid-write/torn (readers "
                    "fall back one version)"
                )
            continue
        partitions = payload.get("partitions")
        if not isinstance(partitions, dict):
            # parseable-but-malformed: exactly the corruption class fsck
            # exists to classify — report, don't crash (round-8 ADVICE)
            report["errors"].append(
                f"manifest v{v} parses but has no usable 'partitions' map "
                "— corrupt metadata (readers would crash resolving it)"
            )
            continue
        complete[v] = payload
        missing = sorted(
            d for d in set(partitions.values()) if d not in data_listing
        )
        if missing:
            report["errors"].append(
                f"manifest v{v} references missing generation dir(s) "
                f"{missing} — a reader resolving v{v} would crash"
            )
    if complete:
        head = complete[max(complete)]
        report["info"]["head_version"] = max(complete)
        report["info"]["live_titles"] = len(head["partitions"])
        referenced = set()
        for p in complete.values():
            referenced.update(p["partitions"].values())
        orphans = sorted(data_listing - referenced)
        report["info"]["orphan_generations"] = len(orphans)
        if orphans:
            report["warnings"].append(
                f"{len(orphans)} generation dir(s) referenced by no listed "
                "manifest (in-flight commit or vacuum fodder), e.g. "
                f"{orphans[:3]}"
            )
    _check_leases(vindex, vindex.lease_dir, report)

    if deep and complete:
        v = max(complete)
        stamps = complete[v].get("row_counts") or {}
        bounds = set(complete[v].get("row_count_bounds") or [])
        if stamps:
            actual = {
                r["title"]: r["n"]
                for r in vindex.read()
                .groupBy("title")
                .count()
                .withColumnRenamed("count", "n")
                .collect()
            }
            for t, n in stamps.items():
                got = actual.get(t, 0)
                if t in bounds:
                    if got > n:
                        report["errors"].append(
                            f"title {t!r}: {got} rows exceeds its manifest "
                            f"BOUND {n}"
                        )
                elif got != n:
                    report["errors"].append(
                        f"title {t!r}: {got} rows != manifest stamp {n}"
                    )
    return report


def fsck_derived(index, *, deep: bool = False) -> dict:
    """Verify a synced derived index (``SyncedIvfpqIndex`` /
    ``SyncedTextIndex``) tree against its primary."""
    vindex = index.vindex
    report: dict = {
        "path": index.path,
        "kind": index.KIND,
        "errors": [],
        "warnings": [],
        "info": {},
    }
    versions = index._meta_versions()
    report["info"]["meta_versions"] = len(versions)
    if not versions:
        report["info"]["exists"] = False
        return report
    report["info"]["exists"] = True

    listing = set(vindex._list_dir(index.path))
    metas: dict[int, dict] = {}
    foreign: dict[int, object] = {}  # meta version -> its format_version
    for v in versions:
        payload = _parse_json(
            vindex._read_small_file(f"{index.meta_dir}/{index._meta_name(v)}")
        )
        if payload is None:
            if v == versions[-1] and len(versions) > 1:
                report["warnings"].append(
                    f"newest meta v{v} is torn (readers fall back one)"
                )
            elif len(versions) == 1:
                report["errors"].append("the only meta is torn — index unreadable")
            else:
                report["warnings"].append(f"meta v{v} torn and superseded")
            continue
        if payload.get("format_version") != FORMAT_VERSION:
            foreign[v] = payload.get("format_version")
            continue
        assign = payload.get("assign")
        revoked = payload.get("revoked")
        if not (
            isinstance(assign, dict)
            and isinstance(revoked, dict)
            and "data_version" in payload
        ):
            report["errors"].append(
                f"meta v{v} parses but is missing a usable 'assign' or "
                "'revoked' map or 'data_version' — corrupt metadata"
            )
            continue
        metas[v] = payload
        missing = sorted(
            s for s in set(assign.values()) if s not in listing
        )
        if missing:
            report["errors"].append(
                f"meta v{v} references missing segment(s) {missing}"
            )
        qdir = payload.get("quantizer_dir")
        if qdir and qdir not in listing:
            report["errors"].append(
                f"meta v{v} references missing quantizer dir {qdir!r}"
            )
        for seg, sq in (payload.get("seg_quantizer") or {}).items():
            # per-segment pins (partial retrain): a missing pinned
            # quantizer makes that segment's ADC scores garbage
            if isinstance(sq, (list, tuple)) and len(sq) == 2:
                if sq[1] and sq[1] not in listing:
                    report["errors"].append(
                        f"meta v{v} pins segment {seg!r} to missing "
                        f"quantizer dir {sq[1]!r}"
                    )
            else:
                report["errors"].append(
                    f"meta v{v} has a malformed seg_quantizer entry "
                    f"for {seg!r}: {sq!r}"
                )
        extra = sorted(set(revoked) - set(assign.values()))
        if extra:
            report["errors"].append(
                f"meta v{v} revoked-map names unassigned segment(s) {extra}"
            )
    for v, found in sorted(foreign.items()):
        # readers resolve the newest parseable meta and refuse it when
        # its layout is foreign; an older foreign meta is what a rebuild
        # in place leaves behind until vacuum drops it
        msg = (
            f"meta v{v} has format_version {found!r}; engine supports "
            f"{FORMAT_VERSION}"
        )
        if v > max(metas, default=-1):
            report["errors"].append(f"{msg} — readers refuse it; build() again")
        else:
            report["warnings"].append(f"{msg} and is superseded (vacuum fodder)")

    if metas:
        head_v = max(metas)
        head = metas[head_v]
        report["info"]["head_meta_version"] = head_v
        report["info"]["assigned_titles"] = len(head["assign"])
        report["info"]["live_segments"] = len(set(head["assign"].values()))
        if head.get("retrain_recommended"):
            report["warnings"].append(
                f"drift guard is flagging retrain_recommended "
                f"(drift_ratio {head.get('drift_ratio')}) — run retrain()"
            )
        if vindex._load_manifest_version(head["data_version"]) is None:
            report["warnings"].append(
                f"indexed primary snapshot v{head['data_version']} has been "
                "vacuumed — exact re-rank serves will fail loudly until "
                "refresh()"
            )
        referenced = set()
        for p in metas.values():
            referenced.update(p["assign"].values())
            if p.get("quantizer_dir"):
                referenced.add(p["quantizer_dir"])
            for sq in (p.get("seg_quantizer") or {}).values():
                if isinstance(sq, (list, tuple)) and len(sq) == 2 and sq[1]:
                    referenced.add(sq[1])
        orphans = sorted(
            n
            for n in listing
            if (n.startswith("seg-") or n.startswith("quantizer-"))
            and n not in referenced
        )
        report["info"]["orphan_dirs"] = len(orphans)
        if orphans:
            report["warnings"].append(
                f"{len(orphans)} unreferenced segment/quantizer dir(s) "
                f"(in-flight writer or vacuum fodder), e.g. {orphans[:3]}"
            )
    _check_leases(vindex, index.lease_dir, report)

    if deep and metas:
        head = metas[max(metas)]
        payload = vindex._load_manifest_version(head["data_version"])
        if payload is not None:
            # id-set parity as distributed anti-joins: only counts plus a
            # bounded divergence sample ever reach the driver, so deep
            # fsck stays usable at the corpus sizes the index modules
            # advertise (round-8 ADVICE — was two O(corpus) python sets)
            primary_ids = (
                vindex._read_manifest_payload(payload).select("id").distinct()
            )
            if index.KIND == "ivfpq":
                frames = index._segment_frames(head, "", index.SEGMENT_SCHEMA)
            else:
                frames = index._doclens_frames(head)  # one row per doc
            served_frames = []
            for df, _ts, rv in frames:
                cond = index._serving_filter(rv)
                sdf = df.filter(cond) if cond is not None else df
                served_frames.append(sdf.select("id"))
            if served_frames:
                served = served_frames[0]
                for f in served_frames[1:]:
                    served = served.unionByName(f)
                served = served.distinct()
            else:
                served = primary_ids.limit(0)
            extra = served.join(primary_ids, "id", "left_anti")
            missing = primary_ids.join(served, "id", "left_anti")
            n_extra, n_missing = extra.count(), missing.count()
            if n_extra or n_missing:
                sample = sorted(
                    r["id"] for r in extra.limit(3).collect()
                ) + sorted(r["id"] for r in missing.limit(3).collect())
                report["errors"].append(
                    f"deep: served id-set != primary snapshot "
                    f"({n_extra} extra, {n_missing} missing; "
                    f"sample {sample})"
                )
            else:
                report["info"]["deep_ids_checked"] = primary_ids.count()
    return report
