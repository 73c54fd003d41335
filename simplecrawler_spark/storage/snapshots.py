"""S4/S5 — snapshot-versioned storage with atomic manifest commits.

Plays the role of the reference's ``queue.freeze()``/``queue.defrost()``
(``lib/queue.js:≈L330–425``) — but as Iceberg-style table snapshots: every
BSP round appends immutable parquet deltas and then atomically commits a
tiny JSON manifest (write-tmp + ``os.replace``). A crash between commits
leaves orphan round directories that resume deletes; task retries are
idempotent because deltas for a round are only referenced once the manifest
lands.

No Iceberg jar ships in this sandbox (SURVEY.md §7.0); this layer exposes
the same semantics (atomic commit, time travel by round, lineage via parent
pointers) behind a path-based API that swaps for a real Iceberg catalog via
``--packages org.apache.iceberg:iceberg-spark-runtime-*`` on a cluster.

Layout under ``warehouse/``::

    queued/round=R/     append-only frontier admissions (delta per round)
    fetched/round=R/    fetch outcomes (delta per round; crawl-order record)
    seen/round=R/bucket=B/   url_seen delta, hash-bucketed
    metrics/round=R/    per-partition event counters
    sidecars/bucket=B/  bloom.npy membership prefilter — committed
                        state (updated before each manifest lands; resume
                        rebuilds only crash-touched or missing buckets)
    manifests/manifest-R.json   atomic commit point, parent pointer = lineage
    <table>/compact=C/  compacted level files (storage/compaction.py)

Compaction (the Iceberg-manifest analog): without it every read lists
O(rounds × buckets) delta dirs — the clearest 100×-scale failure. Every
``compact_every`` rounds the deltas since the last level are merged into one
``compact=C`` dir (ONE file per bucket for ``seen``); when more than
``compact_max_levels`` levels accumulate, a major compaction rewrites them
into one. The manifest's ``compacts`` key lists the live levels per table —
the manifest IS the transaction: a compact dir is invisible until a manifest
references it, and consumed inputs are deleted only after the referencing
manifest lands (crash in between leaves stale-but-ignored dirs that resume
garbage-collects). Read set per table = ``len(levels) + rounds-since-last``
dirs — bounded by construction. Reference analog: the FS cache's single
``cacheindex.json`` staying O(1) (``lib/cache-backend-fs.js:≈L60``).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time


class Warehouse:
    # "seen" holds the unified frontier/url_seen delta (one write serves
    # both roles — see operators/dedupe.register_new); "robots" is the
    # lazily-upserted per-host rules table (S3, lazy mode only); "payload"
    # is the per-round image decode/PSNR verification results, joined back
    # onto fetched rows at read time (plans/crawl.CrawlResult.fetched_log)
    TABLES = ("fetched", "seen", "metrics", "robots", "payload")

    def __init__(self, root: str):
        self.root = root
        for t in self.TABLES:
            os.makedirs(os.path.join(root, t), exist_ok=True)
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)
        os.makedirs(os.path.join(root, "sidecars"), exist_ok=True)

    # --- paths ---
    def table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def round_dir(self, table: str, rnd: int) -> str:
        return os.path.join(self.root, table, f"round={rnd}")

    def round_paths(self, table: str, upto_round: int) -> list[str]:
        """Existing committed delta dirs for ``table`` with round ≤ R
        (compaction-unaware enumeration — prefer :meth:`data_paths`)."""
        out = []
        for r in range(upto_round + 1):
            p = self.round_dir(table, r)
            if os.path.isdir(p):
                out.append(p)
        return out

    def compact_dir(self, table: str, level: int) -> str:
        return os.path.join(self.root, table, f"compact={level}")

    def manifest_compacts(self, upto_round: int) -> dict:
        """Live compaction levels per table, from the newest manifest ≤ R
        (during a round, R itself is not yet committed — fall back one)."""
        for r in (upto_round, upto_round - 1):
            if r >= 0 and os.path.exists(self._manifest_path(r)):
                return self.load_manifest(r).get("compacts", {})
        return {}

    def layout_for(self, table: str, upto_round: int,
                   levels: list[int]) -> tuple[list[str], list[str]]:
        """(compact_dirs, round_dirs) for an explicit level list: all live
        levels plus delta rounds in (max level, R]. The returned set is what
        a reader must scan — ``len(levels) + rounds-since-last-compaction``
        dirs, never O(total rounds)."""
        comp = [self.compact_dir(table, lv) for lv in sorted(levels)
                if os.path.isdir(self.compact_dir(table, lv))]
        floor = max(levels) if levels else -1
        rounds = []
        for r in range(floor + 1, upto_round + 1):
            p = self.round_dir(table, r)
            if os.path.isdir(p):
                rounds.append(p)
        return comp, rounds

    def read_layout(self, table: str, upto_round: int) -> tuple[list[str], list[str]]:
        """Manifest-aware read set: (compact_dirs, delta_round_dirs)."""
        levels = self.manifest_compacts(upto_round).get(table, [])
        return self.layout_for(table, upto_round, levels)

    def data_paths(self, table: str, upto_round: int) -> list[str]:
        """Flat bounded path list (compact levels first, then deltas) — the
        pyarrow tier-3 probe's file universe."""
        comp, rounds = self.read_layout(table, upto_round)
        return comp + rounds

    def sidecar_path(self, bucket: int, kind: str) -> str:
        return os.path.join(self.root, "sidecars", f"bucket={bucket}", f"{kind}.npy")

    # --- manifests ---
    def _manifest_path(self, rnd: int) -> str:
        return os.path.join(self.root, "manifests", f"manifest-{rnd}.json")

    def commit(self, rnd: int, state: dict) -> None:
        """Atomic snapshot commit: the manifest IS the transaction."""
        state = dict(state)
        state.update(
            round=rnd,
            parent=rnd - 1 if rnd > 0 else None,
            committed_at=time.time(),
        )
        tmp = self._manifest_path(rnd) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f, sort_keys=True)
        os.replace(tmp, self._manifest_path(rnd))

    def latest_round(self) -> int | None:
        best = None
        for name in os.listdir(os.path.join(self.root, "manifests")):
            m = re.fullmatch(r"manifest-(\d+)\.json", name)
            if m:
                r = int(m.group(1))
                best = r if best is None else max(best, r)
        return best

    def load_manifest(self, rnd: int) -> dict:
        with open(self._manifest_path(rnd)) as f:
            return json.load(f)

    def lineage(self, rnd: int) -> list[dict]:
        """Snapshot chain root→R via parent pointers."""
        chain = []
        cur: int | None = rnd
        while cur is not None:
            m = self.load_manifest(cur)
            chain.append(m)
            cur = m.get("parent")
        return list(reversed(chain))

    def drop_orphans(self, committed_round: int) -> list[str]:
        """Garbage-collect everything the last committed manifest does not
        reference — called on resume before any read:

        * round dirs newer than the manifest (partial writes from a crashed
          round);
        * round dirs at or below a table's compaction floor (inputs consumed
          by a committed compaction whose cleanup was interrupted);
        * ``compact=`` dirs not in the manifest's ``compacts`` list (a
          compaction that wrote its level but crashed before committing);
        * ``.compact-*.tmp*`` work dirs (crash mid-write, pre-rename).
        """
        compacts = self.manifest_compacts(committed_round)
        dropped = []
        for t in self.TABLES:
            base = self.table_dir(t)
            levels = set(compacts.get(t, []))
            floor = max(levels) if levels else -1
            for name in os.listdir(base):
                path = os.path.join(base, name)
                m = re.fullmatch(r"round=(\d+)", name)
                if m and (int(m.group(1)) > committed_round or int(m.group(1)) <= floor):
                    shutil.rmtree(path)
                    dropped.append(path)
                    continue
                c = re.fullmatch(r"compact=(\d+)", name)
                if c and int(c.group(1)) not in levels:
                    shutil.rmtree(path)
                    dropped.append(path)
                    continue
                if name.startswith(".compact-"):
                    shutil.rmtree(path)
                    dropped.append(path)
        return dropped

    def cleanup_compacted_inputs(self, compacts: dict) -> list[str]:
        """Post-commit cleanup: delete delta rounds ≤ each table's compaction
        floor and unreferenced compact levels. Safe to crash at any point —
        the committed manifest never references the deleted dirs, and resume
        re-runs this via :meth:`drop_orphans`."""
        dropped = []
        for t in self.TABLES:
            levels = set(compacts.get(t, []))
            if not levels:
                continue
            floor = max(levels)
            base = self.table_dir(t)
            for name in os.listdir(base):
                path = os.path.join(base, name)
                m = re.fullmatch(r"round=(\d+)", name)
                if m and int(m.group(1)) <= floor:
                    shutil.rmtree(path)
                    dropped.append(path)
                    continue
                c = re.fullmatch(r"compact=(\d+)", name)
                if c and int(c.group(1)) not in levels:
                    shutil.rmtree(path)
                    dropped.append(path)
        return dropped
