"""Per-stage checkpointing with lineage + metrics manifests (resumability).

North-rule requirement: any stage resumes idempotently from checkpoint. The
mechanism:

  * each stage materializes to a parquet table under
    ``<root>/<stage_name>/data`` (Iceberg table on a real cluster — same
    API shape, plus snapshot ids for free);
  * a ``manifest.json`` records the stage's input fingerprint (hash of
    upstream manifests + stage parameters), row count, per-partition row
    counts (the lineage/metrics the north rule asks for), wall time and
    timestamps;
  * on re-run, a stage whose fingerprint matches its manifest is NOT
    recomputed — the checkpoint parquet is read back; the first stage whose
    fingerprint differs (changed params or upstream) recomputes, and
    everything downstream follows because fingerprints chain.

Fingerprints chain like a Merkle list, so "resume after editing stage k"
re-runs exactly stages k..n — the reference, a one-shot process with no
recovery (SURVEY §4.1 'Resumability: none'), restarts from zero.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass
from typing import Callable, Dict, List, Optional

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def fingerprint(*parts: str) -> str:
    h = hashlib.md5()
    for p in parts:
        h.update(p.encode())
        h.update(b"\x00")
    return h.hexdigest()


def input_signature(path: str) -> str:
    """Cheap input-data identity for a source directory: the sorted
    (relative name, size, mtime_ns) of every file under ``path``, hashed.

    Fingerprinting only the path STRING would silently reuse a stale
    checkpoint after the corpus is regenerated in place under the same
    directory name; hashing the data itself is not an option at 100 TB.
    File-listing metadata is the standard middle ground (it is exactly
    what an Iceberg snapshot id summarizes on a real cluster — there,
    chain the snapshot id instead). ``path`` may be a single file or a
    directory tree (a parquet "table" is either)."""
    entries = []
    if os.path.isfile(path):
        st = os.stat(path)
        entries.append(f".:{st.st_size}:{st.st_mtime_ns}")
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            fp = os.path.join(dirpath, fn)
            st = os.stat(fp)
            entries.append(
                f"{os.path.relpath(fp, path)}:{st.st_size}:{st.st_mtime_ns}"
            )
    return fingerprint(*sorted(entries))


@dataclass
class StageResult:
    name: str
    df: DataFrame
    fingerprint: str
    reused: bool
    manifest: Dict


class CheckpointedPipeline:
    """Driver-side coordinator for checkpointed stage execution."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.stages: Dict[str, StageResult] = {}

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self.root, name, "manifest.json")

    def _data_path(self, name: str) -> str:
        return os.path.join(self.root, name, "data")

    def _load_manifest(self, name: str) -> Optional[Dict]:
        p = self._manifest_path(name)
        if not os.path.exists(p):
            return None
        try:
            with open(p) as f:
                return json.load(f)
        except (json.JSONDecodeError, OSError):
            return None  # torn write -> recompute (idempotent)

    def stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        params: str = "",
        upstream: Optional[List[str]] = None,
    ) -> DataFrame:
        """Run (or resume) one stage; returns its DataFrame.

        ``upstream`` names prior stages whose fingerprints chain into this
        one; ``params`` must cover every input ``build`` reads that no
        upstream fingerprint covers: the constants and source data of the
        stage (for the webtext chain: the input signature and gazetteers,
        the spec text and k, the entity aliases).
        """
        up_fps = [self.stages[u].fingerprint for u in (upstream or [])]
        fp = fingerprint(name, params, *up_fps)
        manifest = self._load_manifest(name)
        data_path = self._data_path(name)

        if manifest and manifest.get("fingerprint") == fp and os.path.exists(data_path):
            df = self.spark.read.parquet(data_path)
            self.stages[name] = StageResult(name, df, fp, True, manifest)
            return df

        t0 = time.time()
        # invalidate the stale manifest BEFORE touching the data: a crash
        # between the data overwrite and the new manifest's publish must
        # leave a missing manifest (-> recompute on resume), never an old
        # manifest whose fingerprint still matches while the data under it
        # is from a different run or half-written
        stale = self._manifest_path(name)
        if os.path.exists(stale):
            os.remove(stale)
        # rebalanced, AQE sizes the files (one per shuffle partition
        # without it), like the graph sink's
        build().hint("rebalance").write.mode("overwrite").parquet(data_path)
        out = self.spark.read.parquet(data_path)
        # lineage/metrics: per-partition row counts of the materialized table
        part_counts = [
            {"partition": int(r["pid"]), "rows": int(r["rows"])}
            for r in out.groupBy(F.spark_partition_id().alias("pid"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .collect()
        ]
        manifest = {
            "stage": name,
            "fingerprint": fp,
            "params": params,
            "upstream": {u: self.stages[u].fingerprint for u in (upstream or [])},
            "rows": sum(p["rows"] for p in part_counts),
            "partitions": sorted(part_counts, key=lambda p: p["partition"]),
            "wall_sec": round(time.time() - t0, 3),
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        tmp = self._manifest_path(name) + ".tmp"
        os.makedirs(os.path.dirname(tmp), exist_ok=True)
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path(name))  # atomic publish
        self.stages[name] = StageResult(name, out, fp, False, manifest)
        return out

    def reused(self, name: str) -> bool:
        return self.stages[name].reused


#: The chain stages materialized to parquet; a step between two of them
#: (tokens) runs inside the later one's build.
CHECKPOINTED = ("spans", "frames", "triples")


def run_checkpointed_extraction(
    spark: SparkSession, sf_dir: str, root: str
) -> Dict[str, DataFrame]:
    """The webtext extraction chain (``webtext.extraction_chain``) with a
    checkpoint after spans, frames and triples.

    Each checkpointed stage fingerprints the constants of the steps it
    runs; the spans stage also covers the documents table and its file
    listing (the chain reads no other table, so the corpus's sibling
    tables do not invalidate it). Every stage after the first starts
    from the previous stage's parquet, so lineage is cut at each
    boundary."""
    from dere_spark.sources.documents import load_documents
    from dere_spark.webtext import extraction_chain

    cp = CheckpointedPipeline(spark, root)
    df = load_documents(spark, sf_dir)
    # in-place regeneration of the documents table invalidates the first stage
    docs = f"{sf_dir}/documents.parquet"
    params, upstream = [docs, input_signature(docs)], []
    for name, step, constants in extraction_chain():
        df = step(df)
        params.append(constants)
        if name in CHECKPOINTED:
            df = cp.stage(
                name, lambda out=df: out, params=fingerprint(*params), upstream=upstream
            )
            params, upstream = [], [name]
    out = {name: cp.stages[name].df for name in CHECKPOINTED}
    out["_pipeline"] = cp
    return out
