"""The benchmark's workloads: which registry gates run, on which input."""
import json
import os

CPUS = 4  # local[N] of every run
MIN_PASSES = 3  # timed warm passes every run makes, whatever its --seconds

# workload name -> the registry gates of one pass
WORKLOADS = {
    "floor_mix": """q_grep q_wordcount q_tpch_q6 q_topk q_join_semi q_pipe_wc
        q_jdbc_roundtrip q_hll_merge""".split(),
    "lakehouse_rw": ["q_txlog_merge", "q_txlog_time_travel", "q_stream_tumbling"],
}

# Gates whose output is known to disagree with the oracle. Their mismatch is
# reported in every run record and on stderr, but does not mark the run
# incorrect; any other mismatch does.
KNOWN_DEFECTS = {
    "q_hll_merge": "HLL union in estimation mode (1,500 users per event type) differs "
                   "from the one-pass estimate; fix belongs in AggOps/Queries",
}

with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCHMARK.json")) as _f:
    _spec = json.load(_f)
END_TO_END = _spec["end_to_end"]
PER_LAYER = _spec["per_layer"]
