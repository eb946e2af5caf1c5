"""Checkpoint catalog: atomic per-round commits with an Iceberg-like API.

The design target is Iceberg (BASELINE.json north_star: frontier,
seen-set bloom segments, and per-partition lineage/metrics checkpointed
per crawl round; a killed job resumes mid-crawl with identical
ordering). No Iceberg runtime jar exists in this sandbox and there is
no network to fetch one, so this module provides the identical
*semantics* over parquet + a manifest:

  * each table round is written to ``<root>/.tmp/...`` then
    ``os.rename``'d into place (atomic on one filesystem);
  * a round is COMMITTED only when the manifest (JSON, replaced via
    tempfile + ``os.replace``) lists it — readers never see partial
    rounds, and a kill between table writes and manifest update leaves
    only invisible garbage;
  * resume = ``latest_round()`` from the manifest (crash-consistent).

On a cluster with Iceberg configured, :class:`IcebergCatalog` (same API)
maps commit() to a single transaction of appends; the crawl loop code is
identical. Write-side layout matches the scale design: every table is
written partitioned/bucketed by the caller before ``commit``.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


class ParquetManifestCatalog:
    """Atomic multi-table round commits over plain parquet."""

    def __init__(self, root: str | os.PathLike):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        (self.root / ".tmp").mkdir(exist_ok=True)

    @property
    def _manifest_path(self) -> Path:
        return self.root / "_manifest.json"

    def _read_manifest(self) -> dict:
        if self._manifest_path.exists():
            return json.loads(self._manifest_path.read_text())
        return {"rounds": [], "tables": {}}

    def _write_manifest(self, manifest: dict) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.root / ".tmp", suffix=".manifest")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path)

    def _round_dir(self, table: str, round_no: int) -> Path:
        return self.root / table / f"r{round_no:06d}"

    def commit(self, round_no: int, tables: dict[str, DataFrame]) -> None:
        """Write all *tables* for *round_no*, then commit atomically.

        Refuses to re-commit an already-committed round (resume safety:
        a restarted driver must read, not rewrite, committed rounds).
        """
        manifest = self._read_manifest()
        if round_no in manifest["rounds"]:
            raise ValueError(f"round {round_no} already committed at {self.root}")
        staged: list[tuple[Path, Path]] = []
        for name, df in tables.items():
            tmp = self.root / ".tmp" / f"{name}-r{round_no:06d}"
            if tmp.exists():
                shutil.rmtree(tmp)
            df.write.mode("overwrite").parquet(str(tmp))
            staged.append((tmp, self._round_dir(name, round_no)))
        for tmp, final in staged:
            final.parent.mkdir(parents=True, exist_ok=True)
            if final.exists():
                shutil.rmtree(final)  # leftover from an uncommitted crash
            os.rename(tmp, final)
        manifest["rounds"].append(round_no)
        manifest["rounds"].sort()
        for name in tables:
            manifest["tables"].setdefault(name, [])
            if round_no not in manifest["tables"][name]:
                manifest["tables"][name].append(round_no)
                manifest["tables"][name].sort()
        # _meta provenance per commit (the reference stamps build
        # date/version on typed indices, upload/__init__.py:219-232);
        # manifest-only, so table bytes stay deterministic across runs.
        import datetime as _dt

        from biothings_crawler_spark import __version__

        manifest.setdefault("_meta", {})[str(round_no)] = {
            "build_date": _dt.datetime.now(_dt.timezone.utc).isoformat(),
            "build_version": __version__,
            "src": {"engine": "biothings_crawler_spark"},
        }
        self._write_manifest(manifest)

    def latest_round(self) -> int | None:
        rounds = self._read_manifest()["rounds"]
        return rounds[-1] if rounds else None

    def rounds(self, table: str | None = None) -> list[int]:
        m = self._read_manifest()
        return m["tables"].get(table, []) if table else m["rounds"]

    def read(
        self, spark: SparkSession, table: str, round_no: int | None = None
    ) -> DataFrame | None:
        """Read one committed round, or the union of all committed rounds.

        Only committed paths are passed to the reader — an uncommitted
        (crashed) round directory is invisible by construction.
        """
        rounds = self.rounds(table)
        if round_no is not None:
            if round_no not in rounds:
                return None
            paths = [str(self._round_dir(table, round_no))]
        else:
            if not rounds:
                return None
            paths = [str(self._round_dir(table, r)) for r in rounds]
        return spark.read.parquet(*paths)
