"""Capture ``.explain("formatted")`` for registry queries into a plans dir.

Usage: python tools/explain_capture.py <out_dir> <suffix> <entry> [entry ...]
       python tools/explain_capture.py plans/r12 before ivf_cell_stats ivf_maintenance_report

``out_dir`` is required (absolute, or relative to the repo root), so a
capture never overwrites an earlier round's plans by default.

Writes <out_dir>/<entry>_<suffix>.txt with the formatted physical plan
of the query as built (AQE initial plan — plan claims in the change
notes are checked against these files). A checkpointed input shows
there only as a ``Scan ExistingRDD`` leaf, so for an entry whose build
calls ``localCheckpoint`` it also writes
<out_dir>/<entry>_build_<suffix>.txt: the formatted plan of every
``localCheckpoint`` input, in call order, each under an
``=== checkpoint input N`` header. Builds plans only; runs
no actions beyond what plan construction itself triggers (the
conditional-spread probe on scan-rooted inputs is job-free).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.classic.dataframe import DataFrame as _ClassicDataFrame

from streamlit_projet_spark_streaming_spark.registry import REGISTRY
from streamlit_projet_spark_streaming_spark.session import get_spark


def _formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    if len(sys.argv) < 4:
        print(
            "usage: python tools/explain_capture.py <out_dir> <suffix> <entry> [entry ...]",
            file=sys.stderr,
        )
        raise SystemExit(2)
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        print(f"unknown registry entries: {unknown}", file=sys.stderr)
        raise SystemExit(2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isabs(out_dir):
        out_dir = os.path.join(repo_root, out_dir)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="explain-capture")
    spark.sparkContext.setLogLevel("ERROR")

    # Patch the concrete class: pyspark.sql.DataFrame is an abstract base
    # in PySpark 4, and a patch there is never called.
    inputs: list[str] = []
    checkpoint = _ClassicDataFrame.localCheckpoint

    def _recording_checkpoint(self, *args, **kwargs):
        inputs.append(_formatted(self))
        return checkpoint(self, *args, **kwargs)

    _ClassicDataFrame.localCheckpoint = _recording_checkpoint
    try:
        for name in names:
            inputs.clear()
            plan = _formatted(REGISTRY[name].builder(spark, sf_dir))
            files = {f"{name}_{suffix}.txt": plan}
            if inputs:
                files[f"{name}_build_{suffix}.txt"] = "".join(
                    f"=== checkpoint input {i}\n{text}"
                    for i, text in enumerate(inputs, 1)
                )
            for fname, text in files.items():
                path = os.path.join(out_dir, fname)
                with open(path, "w") as fh:
                    fh.write(text)
                print(f"wrote {path} ({len(text)} bytes)")
    finally:
        _ClassicDataFrame.localCheckpoint = checkpoint
    spark.stop()


if __name__ == "__main__":
    main()
