"""Query registry package: per-family part files, each importing
what it uses from the parts before it (tests/test_registry_forward_refs.py
holds every part to that). Loading the parts registers their queries;
every top-level name is re-exported here so
`from aurora_cdc_demo_spark.registry import X` works for all
consumers, later parts winning on a shared name."""

from . import p01_cdc_operation_log as _p01
from . import p02_text_gopher_rules as _p02
from . import p03_cdc_state_checksums as _p03
from . import p04_embed_dim_stats as _p04
from . import p05_corpus_keep_list_v7 as _p05
from . import p06_dq_contract_checks as _p06
from . import p07_events_allen_relations as _p07
from . import p08_graph_rich_club_knn as _p08

_g = globals()
for _m in (_p01, _p02, _p03, _p04, _p05, _p06, _p07, _p08):
    for _k, _v in vars(_m).items():
        if not _k.startswith('__'):
            _g[_k] = _v

del _g, _m, _k, _v
