"""Attribution of Spark jobs to graft layers, from their call sites.

A job's call site is the long form Spark records in StageInfo.details:
one stack frame per line, innermost first, starting at the first frame
outside Spark. The first frame in the engine's `graft` package names the
module that started the job; a job whose first engine-or-benchmark frame
is the benchmark's own sink is the query's plan run by that sink.
"""
import re

# graft package -> layer; classes directly in `graft` (SparkEntry,
# GraftSession, GraftExtensions) are the query surface
PACKAGE_LAYER = {
    "graft.ops": "ops",
    "graft.functions": "functions",
    "graft.io": "io",
    "graft.parse": "parse",
    "graft.etl": "etl",
    "graft.quality": "quality",
    "graft.analytics": "analytics",
    "graft.sql": "sql",
    "graft.streaming": "streaming",
}
# Checkpoints.scala is where operators materialize shared relations
FILE_LAYER = {"Checkpoints.scala": "ops.materialize"}
LAYERS = ["SparkEntry", "ops", "ops.materialize", "functions", "io", "parse",
          "etl", "quality", "analytics", "sql", "streaming", "unattributed"]

_FRAME = re.compile(r"^(?P<cls>[\w$.]+)\.(?P<meth>[\w$<>]+)\((?P<file>[^:)]*)(?::\d+)?\)$")


def layer_of(frame_list):
    """Layer of the job whose call-site frames (innermost first) are
    `frame_list`; frames outside the engine and the benchmark are skipped."""
    for f in (x.strip() for x in frame_list):
        if f.startswith("perfbench."):
            return "SparkEntry"
        m = _FRAME.match(f) if f.startswith("graft.") else None
        if not m:
            continue
        if m.group("file") in FILE_LAYER:
            return FILE_LAYER[m.group("file")]
        pkg = m.group("cls").rsplit(".", 1)[0]
        return PACKAGE_LAYER.get(pkg, "SparkEntry")
    return "unattributed"
