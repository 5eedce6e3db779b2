"""The crawl engine's durable snapshot store: the ONE module that knows the
workdir layout, so swapping the parquet delta log for real Apache Iceberg
touches only this file.

Workdir layout (``ParquetDeltaLogStore`` is the only code that builds these
paths)::

    round=NNNN/              one committed snapshot (NNNN = its round)
        frontier/            the full live frontier (status NEW)
        seen/ results/ term/ this commit's delta or compacted rewrite
        manifest.json        chain of delta dirs, totals, counters, meta
        bloom.bin            seen-set Bloom filter (seen_bloom runs only)
    .tmp.round=NNNN/         staging dir, renamed to round=NNNN/ at publish
    LATEST                   the commit point (a round number), flipped last
    WRITER                   the writer-lease (fencing) token

``CrawlEngine`` decides WHAT a commit holds (the captures, delta versus
compaction, the Observation-derived totals, the manifest's contents); every
path and file mutation of the commit goes through one store:
``stage`` → ``write_table`` × N → ``publish`` → ``prune`` (≙ Iceberg's
``newAppend().commit()`` followed by snapshot expiry).  The operator calls
(``rollback_to``, ``expire_snapshots``, ``rewrite_data_files``) reuse the
same steps, so the commit protocol exists once.  The read/admin surface is
certified by ``StoreContractSuite`` (tests/test_store_contract.py), which an
Iceberg-backed store can bind unchanged.

Reference parity: the reference keeps durable job state behind the
``JobProvider``/``JobRepository`` interfaces (postgres/provider.go:23,
postgres/repository.go) and upgrades the backing store without touching the
runner — this module is the same interface discipline applied to the
snapshot store.

Mapping table (store call → parquet impl → Iceberg API) — the one-page swap
plan lives in COVERAGE.md:

=====================  ==================================  =========================================
store call             parquet delta-log impl              Apache Iceberg
=====================  ==================================  =========================================
snapshots()             round=NNNN dirs with manifest.json  Table.snapshots()
current()               LATEST file                         Table.currentSnapshot().snapshotId()
manifest(at)            round=NNNN/manifest.json            Snapshot.summary() + manifest list
read(table, at)         union over the manifest chain       spark.read.option("snapshot-id", id)
read_chain(legs)        union of the named delta dirs       scan over the snapshot's data files
totals(at)              manifest["totals"]                  summary "total-records" per table
is_resumable(at)        chain paths all present             snapshot not yet expired
stage/write_table       .tmp.round=NNNN/<table> parquet     newAppend() + appendFile(...)
publish(rnd, m)         tmp→round dir rename, LATEST flip   AppendFiles.commit() (atomic swap)
prune(cutoff, keep)     delete round dirs past the window   expireSnapshots() file cleanup
rollback_to(at)         prune newer dirs + rewind LATEST    manageSnapshots().rollbackTo(id)
expire_snapshots(k)     delete unreferenced old round dirs  expireSnapshots().retainLast(k)
rewrite_data_files()    compacted full rewrite, new round   rewriteDataFiles() compaction action
take_over()/fencing     WRITER token + LATEST-regression    optimistic-concurrency commit conflict
=====================  ==================================  =========================================
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ..schemas import FRONTIER_SCHEMA, RESULT_SCHEMA, SEEN_SCHEMA

_TABLE_SCHEMAS = {
    "seen": SEEN_SCHEMA,
    "results": RESULT_SCHEMA,
    "term": FRONTIER_SCHEMA,
    "frontier": FRONTIER_SCHEMA,
}


class ConcurrentWriterError(RuntimeError):
    """A second engine took over this workdir (its WRITER fencing token
    changed) or already committed past this round; the fenced-out writer
    must abort instead of committing a split-brain snapshot (≙ the
    reference's single-writer postgres job table guarded by SELECT ... FOR
    UPDATE SKIP LOCKED claims, postgres/provider.go:148-244; ≙ Iceberg's
    ``CommitFailedException``)."""


class ParquetDeltaLogStore:
    """Snapshot store over the workdir delta log (layout in the module
    docstring).  A snapshot id is the crawl round number that committed it
    — strictly increasing, like Iceberg's sequence numbers."""

    def __init__(self, spark: SparkSession, workdir: str | os.PathLike):
        self.spark = spark
        self.workdir = Path(workdir)

    # -- layout -------------------------------------------------------------

    def _round_dir(self, rnd: int) -> Path:
        return self.workdir / f"round={rnd:04d}"

    def _stage_dir(self, rnd: int) -> Path:
        return self.workdir / f".tmp.round={rnd:04d}"

    def _round_dirs(self) -> list[tuple[int, Path]]:
        out = []
        for d in self.workdir.glob("round=*"):
            try:
                out.append((int(d.name.split("=")[1]), d))
            except ValueError:
                continue
        # sort by the PARSED round number: lexicographic glob order breaks
        # the ascending invariant at round 10000 ("round=10000" sorts
        # before "round=9999" — r5 ADVICE, low)
        return sorted(out)

    @staticmethod
    def chain_leg(rnd: int, table: str) -> str:
        """The manifest-chain entry for ``table``'s dir written by round
        ``rnd`` (relative to the workdir, so a copied workdir stays valid)."""
        return f"round={rnd:04d}/{table}"

    @staticmethod
    def round_of(leg: str) -> int:
        """The round whose dir holds the chain entry ``leg``."""
        return int(leg.split("/", 1)[0].split("=")[1])

    def _replace_file(self, name: str, text: str) -> None:
        """Atomically (tmp + rename) set the workdir file ``name``."""
        tmp = self.workdir / f".{name}.tmp"
        tmp.write_text(text)
        os.replace(tmp, self.workdir / name)

    # -- read side ----------------------------------------------------------

    def snapshots(self) -> list[int]:
        """All committed snapshot ids, ascending (≙ ``Table.snapshots()``)."""
        return [r for r, d in self._round_dirs() if (d / "manifest.json").exists()]

    def current(self) -> int | None:
        """The commit point, None if nothing ever committed
        (≙ ``Table.currentSnapshot()``)."""
        latest = self.workdir / "LATEST"
        if not latest.exists():
            return None
        return int(latest.read_text().strip())

    def manifest(self, at: int) -> dict:
        """The snapshot's manifest: chain, totals, counters, commit_meta
        (≙ ``Snapshot.summary()`` + its manifest list)."""
        p = self._round_dir(at) / "manifest.json"
        if not p.exists():
            raise ValueError(f"no committed snapshot for round {at}")
        return json.loads(p.read_text())

    def read_chain(self, legs: list[str], schema) -> DataFrame:
        """Union view over a manifest chain's immutable parquet delta dirs
        (bounded legs: compaction caps chain length)."""
        if not legs:
            return self.spark.createDataFrame([], schema)
        df = self.spark.read.schema(schema).parquet(str(self.workdir / legs[0]))
        for p in legs[1:]:
            df = df.unionByName(
                self.spark.read.schema(schema).parquet(str(self.workdir / p))
            )
        return df

    def read_frontier(self, at: int) -> DataFrame:
        """The live frontier stored full (not chained) by snapshot ``at``."""
        return self.spark.read.schema(FRONTIER_SCHEMA).parquet(
            str(self._round_dir(at) / "frontier")
        )

    def read(self, table: str, at: int | None = None) -> DataFrame:
        """Table contents AS OF snapshot ``at`` (default: current) —
        time-travel read (≙ ``spark.read.option("snapshot-id", id)``).
        ``table`` ∈ {seen, results, term, frontier}."""
        if table not in _TABLE_SCHEMAS:
            raise ValueError(f"unknown table {table!r}")
        at = self.current() if at is None else at
        if at is None:
            raise ValueError("store has no committed snapshot")
        m = self.manifest(at)
        if table == "frontier":
            return self.read_frontier(at)
        return self.read_chain(m["chain"][table], _TABLE_SCHEMAS[table])

    def bloom(self, at: int) -> bytes | None:
        """The seen-set Bloom filter bytes snapshot ``at`` carries, if any."""
        p = self._round_dir(at) / "bloom.bin"
        return p.read_bytes() if p.exists() else None

    def totals(self, at: int | None = None) -> dict:
        """Running row totals recorded by the snapshot (≙ the summary's
        ``total-records``); exact, maintained by riding Observations."""
        at = self.current() if at is None else at
        if at is None:
            raise ValueError("store has no committed snapshot")
        return self.manifest(at)["totals"]

    def is_resumable(self, at: int) -> bool:
        """True iff the snapshot is committed and every chain leg it
        references still exists (≙ not expired)."""
        try:
            m = self.manifest(at)
        except ValueError:
            return False
        return all(
            (self.workdir / p).exists()
            for paths in m["chain"].values()
            for p in paths
        )

    # -- writer lease -------------------------------------------------------

    def writer_token(self) -> str | None:
        """The active writer lease token, if any."""
        marker = self.workdir / "WRITER"
        if not marker.exists():
            return None
        return marker.read_text().strip()

    def take_over(self) -> str:
        """Acquire the writer lease with a fresh token, fencing out any
        still-live previous writer (its next conditional commit fails)."""
        token = uuid.uuid4().hex
        self._replace_file("WRITER", token)
        return token

    def reset(self) -> None:
        """Empty the workdir for a fresh crawl (≙ ``createOrReplaceTable``)."""
        if self.workdir.exists():
            shutil.rmtree(self.workdir)
        self.workdir.mkdir(parents=True, exist_ok=True)

    def _check(self, token: str | None, rnd: int | None = None) -> None:
        """The one commit-conflict check: raise ``ConcurrentWriterError`` if
        the lease is no longer ``token`` (None skips the lease check), or —
        with ``rnd`` — if LATEST already covers round ``rnd``, i.e. another
        writer committed a divergent lineage and publishing would regress
        the commit point."""
        if token is not None and self.writer_token() != token:
            raise ConcurrentWriterError(
                f"workdir {self.workdir} was taken over by another writer "
                f"(WRITER token != {token!r}); refusing to commit"
            )
        if rnd is not None:
            committed = self.current()
            if committed is not None and committed >= rnd:
                raise ConcurrentWriterError(
                    f"LATEST={committed} already covers round {rnd}; another "
                    "writer committed a divergent lineage — refusing to "
                    "regress the commit point"
                )

    # -- commit path --------------------------------------------------------

    def stage(self, rnd: int, token: str | None) -> None:
        """Open an empty staging dir for round ``rnd``.

        Our own staging leftovers are always safe to clean.  An EXISTING
        ``round=rnd`` dir is not: it is either a crashed attempt's publish
        that never flipped LATEST (safe to replace) or a concurrent writer's
        committed round (must survive).  It is renamed aside into the
        staging slot, LATEST and the lease are re-verified, and only then is
        it deleted; on a conflict it is renamed back and the commit refuses.
        A rival LATEST flip that lands between the first check and the
        rename — where a check-then-rmtree would already be deleting — is
        caught by the re-check while the data is intact.  What remains is
        the gap between the re-check and the delete; only a LATEST flip
        conditional on the round dir could close it."""
        self._check(token)
        tmp, rd = self._stage_dir(rnd), self._round_dir(rnd)
        if tmp.exists():
            shutil.rmtree(tmp)
        if rd.exists():
            self._check(token, rnd)
            os.replace(rd, tmp)
            try:
                self._check(token, rnd)
            except ConcurrentWriterError:
                os.replace(tmp, rd)
                raise
            shutil.rmtree(tmp)
        tmp.mkdir(parents=True)

    def write_table(self, rnd: int, table: str, df: DataFrame) -> None:
        """Write one table of round ``rnd`` into its staging dir."""
        df.write.mode("overwrite").parquet(str(self._stage_dir(rnd) / table))

    def publish(
        self,
        rnd: int,
        manifest: dict,
        token: str | None,
        bloom_bytes: bytes | None = None,
    ) -> None:
        """Commit the staged round: write its manifest (and Bloom bytes),
        re-check the lease and LATEST right before the swap, rename the
        staging dir to ``round=rnd`` (atomic publish), then flip LATEST
        (atomic tmp+rename, last).  A kill at any step leaves the previous
        commit point intact; a refused commit leaves its staging dir for
        the next ``stage`` to clean."""
        tmp = self._stage_dir(rnd)
        if bloom_bytes is not None:
            (tmp / "bloom.bin").write_bytes(bloom_bytes)
        (tmp / "manifest.json").write_text(json.dumps(manifest, indent=2))
        self._check(token, rnd)
        os.replace(tmp, self._round_dir(rnd))
        self._replace_file("LATEST", str(rnd))

    def prune(self, cutoff: int, keep=frozenset()) -> list[int]:
        """Delete every round dir older than ``cutoff`` except the rounds in
        ``keep``; returns the ids deleted (≙ expiry's file cleanup)."""
        doomed = [(r, d) for r, d in self._round_dirs() if r < cutoff and r not in keep]
        for _, d in doomed:
            shutil.rmtree(d, ignore_errors=True)
        return [r for r, _ in doomed]

    # -- operator calls -----------------------------------------------------

    def rollback_to(self, at: int) -> None:
        """Rewind the commit point to an older retained snapshot, discarding
        the now-divergent newer lineage
        (≙ ``table.manageSnapshots().rollbackTo(id)``)."""
        latest = self.current()
        if latest is None:
            raise ValueError("store has no committed snapshot")
        if at > latest:
            raise ValueError(
                f"from_round={at} is ahead of the commit point (LATEST={latest})"
            )
        if not (self._round_dir(at) / "manifest.json").exists():
            raise ValueError(
                f"round {at} has no committed snapshot in {self.workdir} "
                "(pruned by retention, or never durable with "
                "checkpoint_every > 1)"
            )
        # newer rounds are a now-divergent lineage: prune, then rewind LATEST
        # (order matters for kill-safety — a crash between the two leaves
        # LATEST pointing at a pruned dir only if the prune half-finished,
        # and re-running rollback_to is idempotent)
        for r_old, d in self._round_dirs():
            if r_old > at:
                shutil.rmtree(d, ignore_errors=True)
        self._replace_file("LATEST", str(at))

    def expire_snapshots(self, keep_last: int) -> list[int]:
        """Drop snapshots outside the keep-last-K window; returns the ids
        dropped (≙ ``table.expireSnapshots().retainLast(k)``).  Refuses
        (ValueError) while a retained chain still references an expiring
        dir — run ``rewrite_data_files`` first (Iceberg likewise never
        deletes files a retained snapshot references)."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        retained = self.snapshots()[-keep_last:]
        if not retained:
            return []
        cutoff = retained[0]
        referenced = {
            self.round_of(p)
            for r in retained
            for paths in self.manifest(r)["chain"].values()
            for p in paths
        }
        blocking = [r for r, _ in self._round_dirs() if r < cutoff and r in referenced]
        if blocking:
            raise ValueError(
                f"retained snapshots still reference round dirs {blocking}; "
                "run rewrite_data_files() first so the retained chain is "
                "self-contained (Iceberg never expires referenced files)"
            )
        return self.prune(cutoff)

    def rewrite_data_files(self, expected_token: str | None = None) -> int:
        """Compact every table's chain into a single full rewrite, published
        as a NEW snapshot; returns its id (≙ the ``rewriteDataFiles``
        compaction action, which also commits a new snapshot).  With
        ``expected_token``, the commit is conditional on holding the writer
        lease (conflict → ``ConcurrentWriterError``)."""
        cur = self.current()
        if cur is None:
            raise ValueError("store has no committed snapshot")
        rnd = cur + 1
        self.stage(rnd, expected_token)
        m = self.manifest(cur)
        chain: dict[str, list[str]] = {}
        for t in ("seen", "results", "term"):
            legs = m["chain"][t]
            if not legs:
                chain[t] = []
                continue
            # admin-path compaction: small fixed writer parallelism is fine
            # (the engine's in-run compaction sizes by state; this runs
            # between crawls)
            self.write_table(
                rnd, t, self.read_chain(legs, _TABLE_SCHEMAS[t]).coalesce(8)
            )
            chain[t] = [self.chain_leg(rnd, t)]
        shutil.copytree(
            self._round_dir(cur) / "frontier", self._stage_dir(rnd) / "frontier"
        )
        manifest = dict(
            m,
            round=rnd,
            parent_round=cur,
            chain=chain,
            counters={**m.get("counters", {}), "round": rnd},
            commit_meta={
                "actions": {t: "compact" for t in ("seen", "results", "term")},
                "appended": {"seen": 0, "results": 0, "term": {}},
                "chain_len": {t: len(chain[t]) for t in chain},
                "live_rows": m.get("commit_meta", {}).get("live_rows"),
            },
        )
        self.publish(rnd, manifest, expected_token, self.bloom(cur))
        return rnd
