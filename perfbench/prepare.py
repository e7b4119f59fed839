"""Input preparation: a workload's tables for one seed, generated once.

Inputs are built in the measuring process by the package's
``sources.clips`` generators; the time spent is returned so that it can be
left out of ``setup_s``. Each input set is keyed by (kind, rows, seed) and
reused only when every table has its ``_SUCCESS`` marker and the DuckDB
oracle file is present.

Generation also warms the JVM (the JIT, the parquet writer and its zstd
codec), so a reused set would reach set-up colder than a fresh one and its
``setup_s`` and first ops would depend on whether an earlier run left the
inputs on disk. Both paths therefore run the same Spark work: a reused set
is generated again and written as parquet to a throwaway directory, which
is then deleted. Only the DuckDB oracle, which runs outside the JVM, is
skipped on reuse.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import time
from dataclasses import dataclass

import oracle
import sparkenv

FAST_ROWS = 1_000_000   # shared by verdict_scan and violations_dense
FAST_FILES = 32
AUDIO_ROWS = 1_000      # clips with WAV payloads, for pipeline_audio
AUDIO_FILES = 16
ROWS = {"fast": FAST_ROWS, "audio": AUDIO_ROWS}
TABLES = {"fast": ("table",), "audio": ("clips", "ref", "baseline")}
KEEP_PER_KIND = 4       # input sets kept on disk per kind (least recent go)


def verdict_schema() -> dict:
    from json_skema_spark.sources.clips import CLIPS_CONSTRAINT_SCHEMA
    return CLIPS_CONSTRAINT_SCHEMA


def dense_schema() -> dict:
    """A "bad deploy" of the clips schema: tightened limits that about half
    of the rows break, most of them on one keyword or more."""
    doc = copy.deepcopy(verdict_schema())
    props = doc["properties"]
    props["transcript"]["maxLength"] = 150
    props["dur_ms"]["maximum"] = 5000
    props["sr_hz"]["enum"] = [16000, 44100, 48000]
    return doc


def pipeline_schema() -> dict:
    from json_skema_spark.runner import CLIPS_SCHEMA_DOC
    return CLIPS_SCHEMA_DOC


@dataclass
class Inputs:
    kind: str
    seed: int
    dir: str
    oracle: dict
    reused: bool = False    # found complete on disk rather than generated

    def path(self, table: str) -> str:
        return os.path.join(self.dir, table)


def input_dir(kind: str, seed: int) -> str:
    return os.path.join(sparkenv.WORK, "inputs", f"{kind}_{ROWS[kind]}_s{seed}")


def _oracle_path(d: str) -> str:
    return os.path.join(d, "oracle.json")


def is_ready(kind: str, d: str) -> bool:
    return (all(os.path.exists(os.path.join(d, t, "_SUCCESS")) for t in TABLES[kind])
            and os.path.exists(_oracle_path(d)))


def ensure(spark, kind: str, seed: int) -> tuple[Inputs, float]:
    """The inputs for (kind, seed), generated first if missing; also returns
    the seconds spent generating (on reuse: re-generating, see above)."""
    d = input_dir(kind, seed)
    t0 = time.perf_counter()
    reused = is_ready(kind, d)
    if reused:
        throwaway = os.path.join(sparkenv.WORK, "regenerated")
        shutil.rmtree(throwaway, ignore_errors=True)
        write_tables(spark, kind, seed, throwaway, ROWS[kind])
        shutil.rmtree(throwaway, ignore_errors=True)
    else:
        shutil.rmtree(d, ignore_errors=True)
        write_tables(spark, kind, seed, d, ROWS[kind])
        write_oracle(kind, seed, d)
    gen_s = time.perf_counter() - t0
    os.utime(d)
    _prune(kind, keep=d)
    return Inputs(kind, seed, d, oracle.load(_oracle_path(d)), reused), gen_s


def _prune(kind: str, keep: str) -> None:
    base = os.path.dirname(keep)
    sets = [os.path.join(base, n) for n in os.listdir(base) if n.startswith(kind + "_")]
    sets.sort(key=os.path.getmtime, reverse=True)
    for d in sets[KEEP_PER_KIND:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


def write_tables(spark, kind: str, seed: int, d: str, rows: int) -> None:
    """Generate the ``kind`` tables for ``seed`` as parquet under ``d``."""
    from json_skema_spark.operators import stats
    from json_skema_spark.sources import clips

    def write(df, table: str, **options) -> None:
        df.write.mode("overwrite").options(**options).parquet(os.path.join(d, table))

    if kind == "fast":
        write(clips.clips_df_fast(spark, rows, seed=seed, partitions=FAST_FILES),
              "table", compression="zstd")
        return
    write(clips.clips_df(spark, rows, seed=seed, partitions=AUDIO_FILES),
          "clips", compression="zstd")
    write(clips.transcripts_ref_df(spark, rows, seed=seed, partitions=AUDIO_FILES), "ref")
    table = spark.read.parquet(os.path.join(d, "clips"))
    write(stats.merge_profiles(stats.mergeable_profile(table)), "baseline")


def write_oracle(kind: str, seed: int, d: str) -> dict:
    """Compute the oracle of the tables under ``d``; written last, so its
    presence marks a complete input set."""
    if kind == "fast":
        table = os.path.join(d, "table")
        want = oracle.fast_oracle(table, verdict_schema(), dense_schema())
    else:
        table = os.path.join(d, "clips")
        want = oracle.audio_oracle(table, os.path.join(d, "ref"), pipeline_schema())
    want["input_bytes"] = sparkenv.dir_bytes(table)
    want["seed"] = seed
    tmp = _oracle_path(d) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(want, f, indent=1, sort_keys=True)
    os.replace(tmp, _oracle_path(d))
    return want
