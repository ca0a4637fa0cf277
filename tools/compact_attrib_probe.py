"""WHERE the ANN compaction's write bytes go — phase attribution.

The r11/r12 write-axis history is a lesson in mislocated cost: the
quarantine fix (r11's hypothesis) measured +44%, the append fix −10%,
and the residual growth factor is still ×3.16 per ×4 history vs the
lexical ×1.7. Before the next candidate (decoupling split cadence from
merge cadence), this probe answers the question both prior candidates
guessed at: WHICH phase's bytes accelerate with history?

Same deterministic corpus, cadence and parameters as
tools/compact_probe.py --ann (512-doc batches, compact_every=4,
split_target=512, dim 64, max_generations=8, merge_fanout=4); bytes
are JVM-process wchar deltas, bracketed per phase via a probe-side
subclass that overrides the engine's hooks (zero engine changes):

- entry:    compact_index's out-of-grace entry merge (the first
            _merge_layers call of a compact_index call)
- cascade:  compact_index's size-tiered cascade merges (every later one)
and within every merge:
- split:    _split_giant_cells' own jobs (pull reads, sample collects,
            reassignment checkpoint)
- main_w:   the merged generation's parquet write
- rehome_w: the re-homed rows' append write (r12 adopted placement)
- residual: merge total minus the above (dedup window + checkpoint of
            the merge rows, stray re-home assign)

Usage: python tools/compact_attrib_probe.py [lo] [hi]   # default 11 15
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import shutil
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BATCH = 512
COMPACT_EVERY = 4
KEEP_RECENT = 4


def main(lo: int, hi: int) -> None:
    from pyspark.sql import functions as F

    from parseable_spark.session import get_spark
    from parseable_spark.streaming.ann_index import StreamingEmbeddingIndex

    DIM = 64
    spark = get_spark("compact-attrib-probe")
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def wchar() -> int:
        with open(f"/proc/{jvm_pid}/io") as f:
            for line in f:
                if line.startswith("wchar:"):
                    return int(line.split()[1])
        return 0

    class InstrumentedIndex(StreamingEmbeddingIndex):
        """Phase-bracketed wchar around the unchanged implementation."""

        def reset_phases(self) -> None:
            self.phases = {
                "entry": 0, "cascade": 0, "split": 0,
                "main_w": 0, "rehome_w": 0,
            }
            self.counts = {
                "cascades": 0, "splits": 0, "rehomed_rows": 0,
                "merged_src_layers": 0,
            }
            self._merges = 0
            self._in_merge = False
            self._writes_in_merge = 0

        def compact_index(self, keep_recent: int = 4) -> None:
            self._merges = 0
            super().compact_index(keep_recent)

        def _merge_layers(self, root, sources, **merge):
            # inside one compact_index call the first merge is the
            # entry merge, every later one a cascade
            phase = "cascade" if self._merges else "entry"
            self._merges += 1
            if phase == "cascade":
                self.counts["cascades"] += 1
            self._writes_in_merge = 0
            self._in_merge = True
            self.counts["merged_src_layers"] += len(sources)
            w0 = wchar()
            try:
                super()._merge_layers(root, sources, **merge)
            finally:
                self._in_merge = False
            self.phases[phase] += wchar() - w0

        def _split_giant_cells(self, rows, other_gens=None, count_also=None):
            w0 = wchar()
            out = super()._split_giant_cells(
                rows, other_gens=other_gens, count_also=count_also
            )
            self.phases["split"] += wchar() - w0
            if out[1] is not None:
                self.counts["splits"] += 1
                self.counts["rehomed_rows"] += out[1].count()
            return out

        def _write_index_rows(self, df, gen):
            if not self._in_merge:  # fold_batch's fresh-batch write
                return super()._write_index_rows(df, gen)
            w0 = wchar()
            super()._write_index_rows(df, gen)
            d = wchar() - w0
            # inside a merge, call order is fixed: main rows first,
            # re-homed rows (if any) second
            key = "main_w" if self._writes_in_merge == 0 else "rehome_w"
            self.phases[key] += d
            self._writes_in_merge += 1

    def gen_batch(start: int):
        key = F.col("doc_id")
        return (
            spark.range(start, start + BATCH)
            .withColumnRenamed("id", "doc_id")
            .withColumn(
                "embedding",
                F.transform(
                    F.sequence(F.lit(1), F.lit(DIM)),
                    lambda i: (
                        F.sin(F.xxhash64(
                            (key % 96) * 1000003 + i).cast("double"))
                        + 0.35 * F.sin(F.xxhash64(
                            key * 104729 + i).cast("double"))
                    ),
                ),
            )
        )

    base = tempfile.mkdtemp(prefix="compact_attrib_ann_")
    idx = InstrumentedIndex(
        spark, base, n_cells=16, nprobe=2, threshold=0.9,
        cell_cap=1 << 40, split_target=512, compact_every=0,
        max_splits_per_compaction=64,
        max_generations=8, merge_fanout=4,
    )
    idx.reset_phases()
    checkpoints = [1 << k for k in range(lo, hi + 1, 2)]
    folded = 0
    series = []
    for target in checkpoints:
        t0 = time.time()
        window_batches = 0
        w_start = wchar()
        while folded < target:
            b = folded // BATCH
            idx.fold_batch(gen_batch(folded), b)
            folded += BATCH
            window_batches += 1
            if (b + 1) % COMPACT_EVERY == 0:
                w0 = wchar()
                idx.compact_index(keep_recent=KEEP_RECENT)
                idx.phases["total"] = idx.phases.get("total", 0) + wchar() - w0
        ph = idx.phases
        tot = ph.pop("total", 0)
        sub = ph["split"] + ph["main_w"] + ph["rehome_w"]
        row = {
            "history": folded,
            "total_mb": round(tot / 1e6, 1),
            "entry_mb": round(ph["entry"] / 1e6, 1),
            "cascade_mb": round(ph["cascade"] / 1e6, 1),
            "split_mb": round(ph["split"] / 1e6, 1),
            "main_w_mb": round(ph["main_w"] / 1e6, 1),
            "rehome_w_mb": round(ph["rehome_w"] / 1e6, 1),
            "residual_mb": round((tot - ph["entry"] - ph["cascade"]) / 1e6, 1),
            "merge_minus_sub_mb": round(
                (ph["entry"] + ph["cascade"] - sub) / 1e6, 1
            ),
            **idx.counts,
            "window_s": round(time.time() - t0, 1),
        }
        series.append(row)
        print(json.dumps(row), flush=True)
        idx.reset_phases()
    print(json.dumps({
        "index": "embedding (IVF, split_target=512) — phase attribution",
        "batch": BATCH, "compact_every": COMPACT_EVERY, "dim": DIM,
        "series": series,
    }))
    shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    lo = int(args[0]) if args else 11
    hi = int(args[1]) if len(args) > 1 else 15
    main(lo, hi)
