"""One statistics pass per filtered table, kept on the session.

:func:`~postbound_spark.optimizer.stats.table_profile` is the single source
of the statistics the join-ordering stages read: UES's row counts and
max frequencies, the System-R distinct counts of the pgdp/dp estimator and
the learned correctors built on it. This module pins three things:

1. the one-pass profile returns exactly what the per-statistic calls
   return, on every filtered base table the JOB and JOB-light suites plan,
   and on the empty-table and no-join-column edges where a grouping-sets
   rewrite could diverge from a global aggregate; the batched
   ``table_profiles`` (every miss of a batch in one action) returns what
   the one-item calls return, on the same tables and edges;
2. the strategy outputs — UES root bounds and orders, the dp and pgdp join
   orders and the root ``estimate_components`` — equal the values recorded
   from the per-statistic implementation it replaced (``RECORDED``);
3. the memo's lifetime: a cold plan fires at most 3 jobs per filtered
   table, a re-plan over rebuilt frames fires none, self-join aliases with
   different filters keep separate entries, and ``clear_table_cache`` or a
   new session starts over.

A fourth check needs no Spark: ``estimate_components`` is bit-identical
across processes with different string-hash seeds.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from postbound_spark.catalog import clear_table_cache, session_memo
from postbound_spark.experiments import (
    LINEAR_SEARCH_ABOVE,
    _plan_order,
    _prepared_tables,
    imdb_shaped_frames,
)
from postbound_spark.optimizer.cardinalities import StatsCardinalityEstimator
from postbound_spark.optimizer.dynprog import DynamicProgrammingEnumerator
from postbound_spark.optimizer.joingraph import JoinEdge
from postbound_spark.optimizer.pgdp import PostgresStyleDynProg
from postbound_spark.optimizer.stages import QuerySpec
from postbound_spark.optimizer.stats import (
    EmulatedStatistics,
    TableProfile,
    table_profile,
    table_profiles,
)
from postbound_spark.optimizer.ues import UESJoinOrderOptimizer
from postbound_spark.plans.parser import parse_query, to_query_spec
from postbound_spark.sources.imdb_fixture import IMDB_TABLES
from postbound_spark.workloads import job_light_shaped_corpus

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JOB_DIR = os.path.join(
    REPO,
    "workloads",
    "fixtures",
    "job",
)

#: the JOB queries the strategy-matrix and JOB-corpus suites plan
JOB_LABELS = ("1a", "8a", "22a", "33a", "29a", "12a", "32a")

#: label -> (UES root bound, UES tree, dp tree, pgdp tree, root
#: ``estimate_components`` as (est, prod, min_base, max_base, n_edges)),
#: recorded from the per-statistic implementation (one COUNT plus one
#: groupBy-count-max per join column for UES, a separate COUNT + HLL
#: aggregate for the estimator) on the session-scoped IMDB fixture
#: (``jl*``: ``imdb_shaped_frames``)
RECORDED = {
    'job/12a': (
        509.0, '(((((((ct ⋈ mc) ⋈ cn) ⋈ t) ⋈ mi_idx) ⋈ it2) ⋈ mi) ⋈ it1)',
        '(((((((mi_idx ⋈ t) ⋈ mc) ⋈ cn) ⋈ ct) ⋈ it2) ⋈ mi) ⋈ it1)',
        '(cn ⋈ (ct ⋈ (mc ⋈ (it1 ⋈ (it2 ⋈ (mi ⋈ (mi_idx ⋈ t)))))))',
        (1.0, 2233067494000.0, 1.0, 4024.0, 10),
    ),
    'job/1a': (
        1374.0, '((((ct ⋈ mc) ⋈ t) ⋈ mi_idx) ⋈ it)',
        '((((ct ⋈ mc) ⋈ t) ⋈ mi_idx) ⋈ it)',
        '(it ⋈ (mi_idx ⋈ (t ⋈ (mc ⋈ ct))))',
        (1.0, 3837528541.0, 1.0, 3013.0, 5),
    ),
    'job/22a': (
        756.0, '((((((((((it1 ⋈ mi) ⋈ t) ⋈ kt) ⋈ mc) ⋈ cn) ⋈ ct) ⋈ mi_idx) ⋈ it2) ⋈ mk) ⋈ k)',
        '((((((((((kt ⋈ t) ⋈ mc) ⋈ mi) ⋈ cn) ⋈ ct) ⋈ it1) ⋈ mi_idx) ⋈ it2) ⋈ mk) ⋈ k)',
        '(cn ⋈ (ct ⋈ (k ⋈ (mk ⋈ (it1 ⋈ (it2 ⋈ (mi_idx ⋈ (mi ⋈ (mc ⋈ (t ⋈ kt))))))))))',
        (1.0, 1.9346579022836736e+18, 1.0, 5025.0, 16),
    ),
    'job/29a': (
        189.0, '((((((((((((((((cct1 ⋈ cc) ⋈ t) ⋈ cct2) ⋈ mi) ⋈ it) ⋈ ci) ⋈ rt) ⋈ chn) ⋈ n) ⋈ an) ⋈ pi) ⋈ it3) ⋈ mc) ⋈ cn) ⋈ mk) ⋈ k)',
        '((((((((((((((((mi ⋈ t) ⋈ cc) ⋈ cct1) ⋈ cct2) ⋈ ci) ⋈ an) ⋈ chn) ⋈ it) ⋈ mc) ⋈ cn) ⋈ mk) ⋈ k) ⋈ n) ⋈ pi) ⋈ it3) ⋈ rt)',
        '(cn ⋈ (k ⋈ (mc ⋈ (mk ⋈ (an ⋈ (cct1 ⋈ (cct2 ⋈ (cc ⋈ (chn ⋈ (it ⋈ (it3 ⋈ (n ⋈ (rt ⋈ (pi ⋈ (ci ⋈ (mi ⋈ t))))))))))))))))',
        (1.0, 8.685862256435998e+24, 1.0, 5025.0, 28),
    ),
    'job/32a': (
        400.0, '(((((k ⋈ mk) ⋈ t1) ⋈ ml) ⋈ lt) ⋈ t2)',
        '(((((mk ⋈ t1) ⋈ k) ⋈ ml) ⋈ lt) ⋈ t2)',
        '(lt ⋈ (t2 ⋈ (ml ⋈ (t1 ⋈ (mk ⋈ k)))))',
        (1.0, 35830335626250.0, 1.0, 5025.0, 6),
    ),
    'job/33a': (
        7072.0, '(((((((((((((it1 ⋈ mi_idx1) ⋈ t1) ⋈ kt1) ⋈ ml) ⋈ lt) ⋈ t2) ⋈ kt2) ⋈ mi_idx2) ⋈ it2) ⋈ mc1) ⋈ cn1) ⋈ mc2) ⋈ cn2)',
        '(((((((((((((kt2 ⋈ t2) ⋈ ml) ⋈ mc2) ⋈ cn2) ⋈ lt) ⋈ mc1) ⋈ cn1) ⋈ mi_idx1) ⋈ it1) ⋈ mi_idx2) ⋈ it2) ⋈ t1) ⋈ kt1)',
        '(cn1 ⋈ (cn2 ⋈ (it1 ⋈ (it2 ⋈ (mc1 ⋈ (mc2 ⋈ (mi_idx1 ⋈ (kt1 ⋈ (lt ⋈ (t1 ⋈ (mi_idx2 ⋈ (ml ⋈ (t2 ⋈ kt2)))))))))))))',
        (1.0, 4.018131233445926e+25, 1.0, 4024.0, 19),
    ),
    'job/8a': (
        154.0, '((((((rt ⋈ ci) ⋈ t) ⋈ n) ⋈ an) ⋈ mc) ⋈ cn)',
        '((((((ci ⋈ rt) ⋈ n) ⋈ an) ⋈ mc) ⋈ cn) ⋈ t)',
        '(cn ⋈ (t ⋈ (mc ⋈ (an ⋈ (n ⋈ (ci ⋈ rt))))))',
        (1.0, 142750603195200.0, 1.0, 1529.0, 8),
    ),
    'light/jl01': (
        81.0, '(ci ⋈ t)',
        '(ci ⋈ t)',
        '(t ⋈ ci)',
        (80.65384615384616, 18873.0, 81.0, 233.0, 1),
    ),
    'light/jl02': (
        100.0, '(t ⋈ mc)',
        '(mc ⋈ t)',
        '(mc ⋈ t)',
        (101.61290322580645, 6300.0, 63.0, 100.0, 1),
    ),
    'light/jl03': (
        35.0, '(mi ⋈ t)',
        '(mi ⋈ t)',
        '(t ⋈ mi)',
        (33.22784810126582, 2625.0, 35.0, 75.0, 1),
    ),
    'light/jl04': (
        50.0, '(mi_idx ⋈ t)',
        '(mi_idx ⋈ t)',
        '(t ⋈ mi_idx)',
        (50.67567567567568, 15000.0, 50.0, 300.0, 1),
    ),
    'light/jl05': (
        8.0, '(mk ⋈ t)',
        '(mk ⋈ t)',
        '(t ⋈ mk)',
        (7.965811965811966, 1864.0, 8.0, 233.0, 1),
    ),
    'light/jl06': (
        126.0, '((t ⋈ ci) ⋈ mc)',
        '((ci ⋈ t) ⋈ mc)',
        '(mc ⋈ (ci ⋈ t))',
        (104.91771594611254, 2383101.0, 63.0, 467.0, 2),
    ),
    'light/jl07': (
        225.0, '((t ⋈ ci) ⋈ mi)',
        '((ci ⋈ t) ⋈ mi)',
        '(mi ⋈ (ci ⋈ t))',
        (175.05402902130288, 3402000.0, 75.0, 560.0, 2),
    ),
    'light/jl08': (
        81.0, '((ci ⋈ t) ⋈ mi_idx)',
        '((ci ⋈ t) ⋈ mi_idx)',
        '(mi_idx ⋈ (t ⋈ ci))',
        (55.46932067202338, 4860000.0, 81.0, 300.0, 2),
    ),
    'light/jl09': (
        243.0, '((ci ⋈ t) ⋈ mk)',
        '((ci ⋈ t) ⋈ mk)',
        '(mk ⋈ (t ⋈ ci))',
        (208.99155405405406, 14475591.0, 81.0, 767.0, 2),
    ),
    'light/jl10': (
        300.0, '((t ⋈ mc) ⋈ mi)',
        '((mc ⋈ t) ⋈ mi)',
        '(mi ⋈ (mc ⋈ t))',
        (240.09799918334014, 3528000.0, 63.0, 560.0, 2),
    ),
    'light/jl11': (
        100.0, '((t ⋈ mi_idx) ⋈ mc)',
        '((mi_idx ⋈ t) ⋈ mc)',
        '(mc ⋈ (mi_idx ⋈ t))',
        (93.99674144629654, 1500000.0, 75.0, 200.0, 2),
    ),
    'light/jl12': (
        300.0, '((mc ⋈ t) ⋈ mk)',
        '((mc ⋈ t) ⋈ mk)',
        '(mk ⋈ (t ⋈ mc))',
        (262.62326515704893, 23010000.0, 100.0, 767.0, 2),
    ),
    'light/jl13': (
        35.0, '((mi ⋈ t) ⋈ mi_idx)',
        '((mi ⋈ t) ⋈ mi_idx)',
        '(mi_idx ⋈ (t ⋈ mi))',
        (29.786690043100297, 1631000.0, 35.0, 233.0, 2),
    ),
    'light/jl14': (
        105.0, '((mi ⋈ t) ⋈ mk)',
        '((mi ⋈ t) ⋈ mk)',
        '(mk ⋈ (t ⋈ mi))',
        (92.15535091543157, 1691235.0, 35.0, 767.0, 2),
    ),
    'light/jl15': (
        150.0, '((mi_idx ⋈ t) ⋈ mk)',
        '((mi_idx ⋈ t) ⋈ mk)',
        '(mk ⋈ (t ⋈ mi_idx))',
        (123.00076975709888, 2876250.0, 50.0, 767.0, 2),
    ),
    'light/jl16': (
        70.0, '(((mi ⋈ t) ⋈ ci) ⋈ mc)',
        '(((mi ⋈ t) ⋈ ci) ⋈ mc)',
        '(mc ⋈ (ci ⋈ (t ⋈ mi)))',
        (15.31496699973348, 397183500.0, 35.0, 467.0, 3),
    ),
    'light/jl17': (
        100.0, '(((mi_idx ⋈ t) ⋈ ci) ⋈ mc)',
        '(((mi_idx ⋈ t) ⋈ ci) ⋈ mc)',
        '(mc ⋈ (ci ⋈ (t ⋈ mi_idx)))',
        (29.05469634503236, 440684550.0, 50.0, 467.0, 3),
    ),
    'light/jl18': (
        16.0, '(((mk ⋈ t) ⋈ ci) ⋈ mc)',
        '(((mk ⋈ t) ⋈ ci) ⋈ mc)',
        '(mc ⋈ (ci ⋈ (t ⋈ mk)))',
        (13.537769799498392, 19064808.0, 8.0, 467.0, 3),
    ),
    'light/jl19': (
        150.0, '(((mi_idx ⋈ t) ⋈ ci) ⋈ mi)',
        '(((mi_idx ⋈ t) ⋈ ci) ⋈ mi)',
        '(mi ⋈ (ci ⋈ (t ⋈ mi_idx)))',
        (110.79368925398917, 170100000.0, 50.0, 560.0, 3),
    ),
    'light/jl20': (
        24.0, '(((mk ⋈ t) ⋈ ci) ⋈ mi)',
        '(((mk ⋈ t) ⋈ ci) ⋈ mi)',
        '(mi ⋈ (ci ⋈ (t ⋈ mk)))',
        (4.1976783211260935, 108864000.0, 8.0, 560.0, 3),
    ),
    'light/jl21': (
        8.0, '(((mk ⋈ t) ⋈ ci) ⋈ mi_idx)',
        '(((mk ⋈ t) ⋈ ci) ⋈ mi_idx)',
        '(mi_idx ⋈ (ci ⋈ (t ⋈ mk)))',
        (2.3567491023112326, 30196800.0, 8.0, 233.0, 3),
    ),
    'light/jl22': (
        300.0, '(((mi_idx ⋈ t) ⋈ mc) ⋈ mi)',
        '(((mi_idx ⋈ t) ⋈ mc) ⋈ mi)',
        '(mi ⋈ (mc ⋈ (t ⋈ mi_idx)))',
        (193.62741869624205, 176400000.0, 50.0, 560.0, 3),
    ),
    'light/jl23': (
        48.0, '(((mk ⋈ t) ⋈ mc) ⋈ mi)',
        '(((mk ⋈ t) ⋈ mc) ⋈ mi)',
        '(mi ⋈ (mc ⋈ (t ⋈ mk)))',
        (22.71625571202278, 33600000.0, 8.0, 560.0, 3),
    ),
    'light/jl24': (
        16.0, '(((mk ⋈ t) ⋈ mi_idx) ⋈ mc)',
        '(((mk ⋈ t) ⋈ mc) ⋈ mi_idx)',
        '(mi_idx ⋈ (mc ⋈ (t ⋈ mk)))',
        (1.8508281839180305, 48000000.0, 8.0, 300.0, 3),
    ),
    'light/jl25': (
        24.0, '(((mk ⋈ t) ⋈ mi_idx) ⋈ mi)',
        '(((mk ⋈ t) ⋈ mi) ⋈ mi_idx)',
        '(mi_idx ⋈ (mi ⋈ (t ⋈ mk)))',
        (1.0183483775418904, 13048000.0, 8.0, 233.0, 3),
    ),
    'light/jl26': (
        70.0, '((((mi ⋈ t) ⋈ ci) ⋈ mi_idx) ⋈ mc)',
        '((((mi ⋈ t) ⋈ ci) ⋈ mi_idx) ⋈ mc)',
        '(mc ⋈ (mi_idx ⋈ (ci ⋈ (t ⋈ mi))))',
        (59.22774287280546, 8340853500.0, 35.0, 467.0, 4),
    ),
    'light/jl27': (
        210.0, '((((mi ⋈ t) ⋈ ci) ⋈ mc) ⋈ mk)',
        '((((mi ⋈ t) ⋈ ci) ⋈ mc) ⋈ mk)',
        '(mk ⋈ (mc ⋈ (ci ⋈ (t ⋈ mi))))',
        (140.3972885226553, 74571202125.0, 35.0, 751.0, 4),
    ),
    'light/jl28': (
        300.0, '((((mi_idx ⋈ t) ⋈ ci) ⋈ mc) ⋈ mk)',
        '((((mi_idx ⋈ t) ⋈ ci) ⋈ mc) ⋈ mk)',
        '(mk ⋈ (mc ⋈ (ci ⋈ (t ⋈ mi_idx))))',
        (55.509363980694225, 426121155000.0, 50.0, 751.0, 4),
    ),
    'light/jl29': (
        450.0, '((((mi_idx ⋈ t) ⋈ ci) ⋈ mi) ⋈ mk)',
        '((((mi_idx ⋈ t) ⋈ ci) ⋈ mi) ⋈ mk)',
        '(mk ⋈ (mi ⋈ (ci ⋈ (t ⋈ mi_idx))))',
        (103.315893603138, 396861444000.0, 50.0, 751.0, 4),
    ),
    'light/jl30': (
        900.0, '((((mi_idx ⋈ t) ⋈ mc) ⋈ mi) ⋈ mk)',
        '((((mi_idx ⋈ t) ⋈ mc) ⋈ mi) ⋈ mk)',
        '(mk ⋈ (mi ⋈ (mc ⋈ (t ⋈ mi_idx))))',
        (491.2641602732357, 132476400000.0, 50.0, 751.0, 4),
    ),
    'light/jl31': (
        48.0, '(((((mk ⋈ t) ⋈ ci) ⋈ mi_idx) ⋈ mc) ⋈ mi)',
        '(((((mk ⋈ t) ⋈ mi) ⋈ ci) ⋈ mi_idx) ⋈ mc)',
        '(mc ⋈ (mi_idx ⋈ (ci ⋈ (mi ⋈ (t ⋈ mk)))))',
        (5.603680817503206, 79436700000.0, 8.0, 467.0, 5),
    ),
    'light/jl32': (
        879.0, '(t ⋈ ci)',
        '(ci ⋈ t)',
        '(ci ⋈ t)',
        (890.8783783783783, 263700.0, 293.0, 900.0, 1),
    ),
    'light/jl33': (
        500.0, '(t ⋈ mc)',
        '(mc ⋈ t)',
        '(mc ⋈ t)',
        (494.93243243243245, 146500.0, 293.0, 500.0, 1),
    ),
    'light/jl34': (
        700.0, '(t ⋈ mi)',
        '(mi ⋈ t)',
        '(mi ⋈ t)',
        (692.9054054054054, 205100.0, 293.0, 700.0, 1),
    ),
    'light/jl35': (
        400.0, '(t ⋈ mi_idx)',
        '(mi_idx ⋈ t)',
        '(mi_idx ⋈ t)',
        (395.94594594594594, 117200.0, 293.0, 400.0, 1),
    ),
    'light/jl36': (
        800.0, '(t ⋈ mk)',
        '(mk ⋈ t)',
        '(mk ⋈ t)',
        (791.8918918918919, 234400.0, 293.0, 800.0, 1),
    ),
    'light/jl37': (
        1500.0, '((t ⋈ mc) ⋈ ci)',
        '((mc ⋈ t) ⋈ ci)',
        '(ci ⋈ (mc ⋈ t))',
        (1504.8621256391525, 131850000.0, 293.0, 900.0, 2),
    ),
    'light/jl38': (
        2100.0, '((t ⋈ mi) ⋈ ci)',
        '((mi ⋈ t) ⋈ ci)',
        '(ci ⋈ (mi ⋈ t))',
        (2106.8069758948136, 184590000.0, 293.0, 900.0, 2),
    ),
    'light/jl39': (
        1200.0, '((t ⋈ mi_idx) ⋈ ci)',
        '((mi_idx ⋈ t) ⋈ ci)',
        '(ci ⋈ (mi_idx ⋈ t))',
        (1203.8897005113222, 105480000.0, 293.0, 900.0, 2),
    ),
    'light/jl40': (
        2400.0, '((t ⋈ mk) ⋈ ci)',
        '((mk ⋈ t) ⋈ ci)',
        '(ci ⋈ (mk ⋈ t))',
        (2407.7794010226444, 210960000.0, 293.0, 900.0, 2),
    ),
    'light/jl41': (
        1400.0, '((t ⋈ mc) ⋈ mi)',
        '((mc ⋈ t) ⋈ mi)',
        '(mi ⋈ (mc ⋈ t))',
        (1170.4483199415633, 102550000.0, 293.0, 700.0, 2),
    ),
    'light/jl42': (
        800.0, '((t ⋈ mi_idx) ⋈ mc)',
        '((mi_idx ⋈ t) ⋈ mc)',
        '(mc ⋈ (mi_idx ⋈ t))',
        (668.8276113951789, 58600000.0, 293.0, 500.0, 2),
    ),
    'light/jl43': (
        1500.0, '((t ⋈ mc) ⋈ mk)',
        '((mc ⋈ t) ⋈ mk)',
        '(mk ⋈ (mc ⋈ t))',
        (1337.6552227903578, 117200000.0, 293.0, 800.0, 2),
    ),
    'light/jl44': (
        1200.0, '((t ⋈ mi_idx) ⋈ mi)',
        '((mi_idx ⋈ t) ⋈ mi)',
        '(mi ⋈ (mi_idx ⋈ t))',
        (936.3586559532506, 82040000.0, 293.0, 700.0, 2),
    ),
    'light/jl45': (
        2100.0, '((t ⋈ mi) ⋈ mk)',
        '((mi ⋈ t) ⋈ mk)',
        '(mk ⋈ (mi ⋈ t))',
        (1872.7173119065012, 164080000.0, 293.0, 800.0, 2),
    ),
    'light/jl46': (
        1200.0, '((t ⋈ mi_idx) ⋈ mk)',
        '((mi_idx ⋈ t) ⋈ mk)',
        '(mk ⋈ (mi_idx ⋈ t))',
        (1070.1241782322863, 93760000.0, 293.0, 800.0, 2),
    ),
    'light/jl47': (
        4200.0, '(((t ⋈ mc) ⋈ mi) ⋈ ci)',
        '(((mc ⋈ t) ⋈ mi) ⋈ ci)',
        '((mi ⋈ (mc ⋈ t)) ⋈ ci)',
        (3558.7955673898878, 92295000000.0, 293.0, 900.0, 3),
    ),
    'light/jl48': (
        2400.0, '(((t ⋈ mi_idx) ⋈ mc) ⋈ ci)',
        '(((mi_idx ⋈ t) ⋈ mc) ⋈ ci)',
        '(ci ⋈ (mc ⋈ (mi_idx ⋈ t)))',
        (2033.597467079936, 52740000000.0, 293.0, 900.0, 3),
    ),
    'light/jl49': (
        4500.0, '(((t ⋈ mc) ⋈ ci) ⋈ mk)',
        '(((mc ⋈ t) ⋈ mk) ⋈ ci)',
        '((mk ⋈ (mc ⋈ t)) ⋈ ci)',
        (4067.194934159872, 105480000000.0, 293.0, 900.0, 3),
    ),
    'light/jl50': (
        3600.0, '(((t ⋈ mi_idx) ⋈ ci) ⋈ mi)',
        '(((mi_idx ⋈ t) ⋈ mi) ⋈ ci)',
        '((mi ⋈ (mi_idx ⋈ t)) ⋈ ci)',
        (2847.0364539119105, 73836000000.0, 293.0, 900.0, 3),
    ),
    'light/jl51': (
        6300.0, '(((t ⋈ mi) ⋈ ci) ⋈ mk)',
        '(((mi ⋈ t) ⋈ mk) ⋈ ci)',
        '((mk ⋈ (mi ⋈ t)) ⋈ ci)',
        (5694.072907823821, 147672000000.0, 293.0, 900.0, 3),
    ),
    'light/jl52': (
        3600.0, '(((t ⋈ mi_idx) ⋈ ci) ⋈ mk)',
        '(((mi_idx ⋈ t) ⋈ mk) ⋈ ci)',
        '((mk ⋈ (mi_idx ⋈ t)) ⋈ ci)',
        (3253.7559473278975, 84384000000.0, 293.0, 900.0, 3),
    ),
    'light/jl53': (
        2400.0, '(((t ⋈ mi_idx) ⋈ mc) ⋈ mi)',
        '(((mi_idx ⋈ t) ⋈ mc) ⋈ mi)',
        '(mi ⋈ (mc ⋈ (mi_idx ⋈ t)))',
        (1581.6869188399503, 41020000000.0, 293.0, 700.0, 3),
    ),
    'light/jl54': (
        4200.0, '(((t ⋈ mc) ⋈ mi) ⋈ mk)',
        '(((mc ⋈ t) ⋈ mi) ⋈ mk)',
        '((mi ⋈ (mc ⋈ t)) ⋈ mk)',
        (3163.3738376799006, 82040000000.0, 293.0, 800.0, 3),
    ),
    'light/jl55': (
        2400.0, '(((t ⋈ mi_idx) ⋈ mc) ⋈ mk)',
        '(((mi_idx ⋈ t) ⋈ mc) ⋈ mk)',
        '(mk ⋈ (mc ⋈ (mi_idx ⋈ t)))',
        (1807.6421929599433, 46880000000.0, 293.0, 800.0, 3),
    ),
    'light/jl56': (
        3600.0, '(((t ⋈ mi_idx) ⋈ mi) ⋈ mk)',
        '(((mi_idx ⋈ t) ⋈ mi) ⋈ mk)',
        '((mi ⋈ (mi_idx ⋈ t)) ⋈ mk)',
        (2530.6990701439204, 65632000000.0, 293.0, 800.0, 3),
    ),
    'light/jl57': (
        7200.0, '((((t ⋈ mi_idx) ⋈ mc) ⋈ ci) ⋈ mi)',
        '((((mi_idx ⋈ t) ⋈ mc) ⋈ mi) ⋈ ci)',
        '((mi ⋈ (mc ⋈ (mi_idx ⋈ t))) ⋈ ci)',
        (4809.183199175525, 36918000000000.0, 293.0, 900.0, 4),
    ),
    'light/jl58': (
        12600.0, '((((t ⋈ mc) ⋈ mi) ⋈ ci) ⋈ mk)',
        '((((mc ⋈ t) ⋈ mi) ⋈ mk) ⋈ ci)',
        '(((mi ⋈ (mc ⋈ t)) ⋈ mk) ⋈ ci)',
        (9618.36639835105, 73836000000000.0, 293.0, 900.0, 4),
    ),
    'light/jl59': (
        7200.0, '((((t ⋈ mi_idx) ⋈ mc) ⋈ ci) ⋈ mk)',
        '((((mi_idx ⋈ t) ⋈ mc) ⋈ mk) ⋈ ci)',
        '((mk ⋈ (mc ⋈ (mi_idx ⋈ t))) ⋈ ci)',
        (5496.209370486313, 42192000000000.0, 293.0, 900.0, 4),
    ),
    'light/jl60': (
        10800.0, '((((t ⋈ mi_idx) ⋈ ci) ⋈ mi) ⋈ mk)',
        '((((mi_idx ⋈ t) ⋈ mi) ⋈ mk) ⋈ ci)',
        '(((mi ⋈ (mi_idx ⋈ t)) ⋈ mk) ⋈ ci)',
        (7694.693118680838, 59068800000000.0, 293.0, 900.0, 4),
    ),
    'light/jl61': (
        7200.0, '((((t ⋈ mi_idx) ⋈ mc) ⋈ mi) ⋈ mk)',
        '((((mi_idx ⋈ t) ⋈ mc) ⋈ mi) ⋈ mk)',
        '((mi ⋈ (mc ⋈ (mi_idx ⋈ t))) ⋈ mk)',
        (4274.829510378244, 32816000000000.0, 293.0, 800.0, 4),
    ),
    'light/jl62': (
        21600.0, '(((((t ⋈ mi_idx) ⋈ mc) ⋈ ci) ⋈ mi) ⋈ mk)',
        '(((((mi_idx ⋈ t) ⋈ mc) ⋈ mi) ⋈ mk) ⋈ ci)',
        '(((mi ⋈ (mc ⋈ (mi_idx ⋈ t))) ⋈ mk) ⋈ ci)',
        (12997.792430204117, 2.95344e+16, 293.0, 900.0, 5),
    ),
    'light/jl63': (
        228.0, '(t ⋈ ci)',
        '(ci ⋈ t)',
        '(ci ⋈ t)',
        (231.0810810810811, 68400.0, 76.0, 900.0, 1),
    ),
    'light/jl64': (
        152.0, '(t ⋈ mc)',
        '(mc ⋈ t)',
        '(mc ⋈ t)',
        (128.3783783783784, 38000.0, 76.0, 500.0, 1),
    ),
    'light/jl65': (
        228.0, '(t ⋈ mi)',
        '(mi ⋈ t)',
        '(mi ⋈ t)',
        (179.72972972972974, 53200.0, 76.0, 700.0, 1),
    ),
    'light/jl66': (
        152.0, '(t ⋈ mi_idx)',
        '(mi_idx ⋈ t)',
        '(mi_idx ⋈ t)',
        (102.70270270270271, 30400.0, 76.0, 400.0, 1),
    ),
    'light/jl67': (
        228.0, '(t ⋈ mk)',
        '(mk ⋈ t)',
        '(mk ⋈ t)',
        (205.40540540540542, 60800.0, 76.0, 800.0, 1),
    ),
    'light/jl68': (
        456.0, '((t ⋈ mc) ⋈ ci)',
        '((mc ⋈ t) ⋈ ci)',
        '(ci ⋈ (mc ⋈ t))',
        (390.3396639883127, 34200000.0, 76.0, 900.0, 2),
    ),
    'light/jl69': (
        684.0, '((t ⋈ ci) ⋈ mi)',
        '((mi ⋈ t) ⋈ ci)',
        '(ci ⋈ (mi ⋈ t))',
        (546.4755295836377, 47880000.0, 76.0, 900.0, 2),
    ),
    'light/jl70': (
        456.0, '((t ⋈ mi_idx) ⋈ ci)',
        '((mi_idx ⋈ t) ⋈ ci)',
        '(ci ⋈ (mi_idx ⋈ t))',
        (312.2717311906501, 27360000.0, 76.0, 900.0, 2),
    ),}


def _job_sql(label: str) -> str:
    with open(os.path.join(JOB_DIR, f"{label}.sql")) as fh:
        return fh.read().strip().rstrip(";")


def _plan_inputs(sql: str, base) -> tuple:
    parsed = parse_query(sql)
    return parsed, to_query_spec(parsed), _prepared_tables(parsed, base)


@pytest.fixture(scope="module")
def job_base(spark, imdb_dir):
    return {t: spark.read.parquet(f"{imdb_dir}/{t}.parquet") for t in IMDB_TABLES}


@pytest.fixture(scope="module")
def planned(spark, job_base):
    """label -> (spec, prepared tables) for every query ``RECORDED`` pins."""
    light_base = {
        name: spark.createDataFrame(pdf) for name, pdf in imdb_shaped_frames().items()
    }
    queries = [(f"job/{label}", _job_sql(label), job_base) for label in JOB_LABELS]
    queries += [
        (f"light/{label}", sql, light_base)
        for label, sql in job_light_shaped_corpus().items()
    ]
    return {key: _plan_inputs(sql, base)[1:] for key, sql, base in queries}


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_profile_equals_per_statistic_calls(spark, planned):
    """Row count, max frequency and HLL distinct count from the one pass
    equal COUNT, groupBy-count-max and a per-column
    ``approx_count_distinct`` aggregate, on every filtered base table of
    the planned queries (each distinct one checked once)."""
    emulated = EmulatedStatistics(spark)
    checked: list = []
    for spec, tables in planned.values():
        for t in spec.tables:
            df, cols = tables[t], spec.join_columns(t)
            if any(cols == c and df.sameSemantics(d) for d, c in checked):
                continue
            checked.append((df, cols))
            profile = table_profile(df, cols)
            assert profile.row_count == emulated.row_count(df), t
            assert profile.max_frequencies == {
                c: emulated.max_frequency(df, c) for c in cols
            }, t
            ndv = df.agg(*[F.approx_count_distinct(c).alias(c) for c in cols])
            assert profile.distinct_counts == (
                ndv.collect()[0].asDict() if cols else {}
            ), t
    assert len(checked) > 50


def test_empty_table_and_no_join_columns(spark, job_base):
    """``groupingSets`` over an empty input yields no groups at all (a
    global aggregate yields one row), so the empty table is where a
    one-pass rewrite could silently diverge: rows 0, max frequency 0, the
    estimator's floored NDV 1.0 and a UES bound of 0. A table with no
    join column profiles to a plain count."""
    title = job_base["title"].alias("t")
    empty = job_base["movie_keyword"].alias("mk").filter("1=0")
    profile = table_profile(empty, ("keyword_id", "movie_id"))
    assert profile.row_count == 0
    assert profile.max_frequencies == {"keyword_id": 0, "movie_id": 0}
    assert profile.distinct_counts == {"keyword_id": 0, "movie_id": 0}
    assert StatsCardinalityEstimator()._table_stats(
        "mk", empty, ("keyword_id", "movie_id")
    ) == (0.0, {"keyword_id": 1.0, "movie_id": 1.0})

    spec = QuerySpec(("mk", "t"), (JoinEdge("mk", "movie_id", "t", "id"),))
    tree = UESJoinOrderOptimizer(spark).optimize_join_order(
        spec, {"mk": empty, "t": title}
    )
    assert tree.cardinality == 0.0

    bare = table_profile(title.filter("t.production_year > 2000"))
    assert bare.row_count == title.filter("t.production_year > 2000").count()
    assert bare.max_frequencies == {} and bare.distinct_counts == {}


def test_batched_profiles_equal_one_item_calls(spark, planned, job_base):
    """``table_profiles`` computes every memo miss of a batch in one Spark
    action over a union of per-table aggregates. Its profiles equal the
    one-item calls on every filtered base table of the planned queries and
    on the edges: the empty table, a table with no join column, and two
    aliases of one table under one filter, which are computed once."""
    title = job_base["title"]
    empty = job_base["movie_keyword"].alias("mk").filter("1=0")
    bare = title.alias("t").filter("t.production_year > 2000")
    t1 = title.alias("t1").filter("t1.kind_id = 1")
    t2 = title.alias("t2").filter("t2.kind_id = 1")
    items = [
        (tables[t], spec.join_columns(t))
        for spec, tables in planned.values()
        for t in spec.tables
    ]
    items += [(empty, ("keyword_id", "movie_id")), (bare, ()), (t1, ("id",)), (t2, ("id",))]

    clear_table_cache(spark)
    batched = table_profiles(items)
    assert batched[-1] is batched[-2]  # one filter, two aliases: one entry
    assert batched[-4] == table_profile(empty, ("keyword_id", "movie_id"))
    assert batched[-4].row_count == 0
    assert batched[-4].max_frequencies == {"keyword_id": 0, "movie_id": 0}
    assert batched[-4].distinct_counts == {"keyword_id": 0, "movie_id": 0}
    assert batched[-3] == TableProfile(bare.count(), {}, {})
    assert table_profiles(items) == batched  # all hits now

    clear_table_cache(spark)
    assert [table_profile(df, cols) for df, cols in items] == batched


def test_strategy_outputs_match_recorded(spark, planned):
    """UES bounds and orders, dp and pgdp orders and the root estimate
    components equal the recorded per-statistic values on every planned
    query. ``est``/``prod`` compare to 1e-12: they were recorded when the
    base counts were multiplied in frozenset order, which follows the
    recording process's string-hash seed, so their last bit may differ
    from today's sorted-order product."""
    assert set(planned) == set(RECORDED)
    for key, (spec, tables) in planned.items():
        bound, ues_tree, dp_tree, pgdp_tree, comp = RECORDED[key]
        ues = UESJoinOrderOptimizer(spark).optimize_join_order(spec, tables)
        est = StatsCardinalityEstimator()
        dp = DynamicProgrammingEnumerator(
            est, bushy=len(spec.tables) <= LINEAR_SEARCH_ABOVE
        ).optimize_join_order(spec, tables)
        pgdp, _ = PostgresStyleDynProg(
            est, linear=len(spec.tables) > LINEAR_SEARCH_ABOVE
        ).generate_execution_plan(spec, tables)
        got = est.estimate_components(spec, frozenset(spec.tables), tables)
        assert (ues.cardinality, str(ues), str(dp), str(pgdp)) == (
            bound, ues_tree, dp_tree, pgdp_tree
        ), key
        want_est, want_prod, min_base, max_base, n_edges = comp
        assert got["est"] == pytest.approx(want_est, rel=1e-12), key
        assert got["prod"] == pytest.approx(want_prod, rel=1e-12), key
        assert (got["min_base"], got["max_base"], got["n_edges"]) == (
            min_base, max_base, n_edges
        ), key


def test_profile_memo_lifetime(spark, job_base, imdb_dir):
    """The session memo: a cold UES + pgdp plan of JOB 20a costs at most
    3 jobs per filtered base table, a re-plan over rebuilt prepared frames
    costs none, cct1/cct2 (one table, two filters) keep two entries, and
    ``clear_table_cache`` or a new session profiles again."""
    sql = _job_sql("20a")

    def plan(base) -> int:
        parsed, spec, tables = _plan_inputs(sql, base)
        j0 = _next_job_id(spark)
        for strategy in ("ues", "pgdp"):
            _plan_order(spark, strategy, parsed, spec, tables)
        return _next_job_id(spark) - j0

    clear_table_cache(spark)
    cold = plan(job_base)
    n_tables = len(to_query_spec(parse_query(sql)).tables)
    assert 0 < cold <= 3 * n_tables
    assert plan(job_base) == 0

    _parsed, spec, tables = _plan_inputs(sql, job_base)
    cols = spec.join_columns("cct1")
    assert cols == spec.join_columns("cct2") == ("id",)
    entries = [
        (df, profile)
        for key, got in session_memo(spark).items()
        if key[0] == "profile" and key[2] == cols
        for df, profile in got
    ]
    hits = [
        [p for df, p in entries if df.sameSemantics(tables[alias])]
        for alias in ("cct1", "cct2")
    ]
    assert len(hits[0]) == len(hits[1]) == 1 and hits[0][0] is not hits[1][0]
    assert table_profile(tables["cct1"], cols) is hits[0][0]

    clear_table_cache(spark)
    assert plan(job_base) == cold

    other = spark.newSession()
    assert not any(key[0] == "profile" for key in session_memo(other))
    other_base = {
        t: other.read.parquet(f"{imdb_dir}/{t}.parquet") for t in IMDB_TABLES
    }
    assert plan(other_base) > 0
    assert any(key[0] == "profile" for key in session_memo(other))


#: stubs ``_table_stats`` with JOB-sized counts whose float product depends
#: on the multiplication order, then prints the frozenset iteration order
#: and the ``prod`` the estimator derives from it
_SEED_PROBE = """
import itertools, math
from postbound_spark.optimizer.cardinalities import StatsCardinalityEstimator
from postbound_spark.optimizer.stages import QuerySpec

counts = {"mk": 4523930.0, "t": 2528312.0, "ci": 36244344.0,
          "n": 4167491.0, "cn": 234997.0, "mc": 2609129.0}
orders = {repr(math.prod(counts[t] for t in p)) for p in itertools.permutations(counts)}
assert len(orders) > 1, "counts must make the product order-dependent"
est = StatsCardinalityEstimator()
est._table_stats = lambda name, df, cols: (counts[name], {})
spec = QuerySpec(tuple(counts), ())
got = est.estimate_components(spec, frozenset(counts), dict.fromkeys(counts))
print(list(frozenset(counts)))
print(repr(got["prod"]))
"""


def test_estimate_components_is_hash_seed_independent():
    """The product of base counts is taken in sorted table order, so
    ``prod`` (and ``est``) cannot follow the frozenset iteration order,
    which differs between processes with different string-hash seeds."""
    runs = [
        subprocess.run(
            [sys.executable, "-c", _SEED_PROBE],
            env={**os.environ, "PYTHONHASHSEED": seed},
            cwd=REPO,
            capture_output=True,
            text=True,
            check=True,
        ).stdout.splitlines()
        for seed in ("1", "2", "3", "4")
    ]
    # the seeds really do iterate the frozenset differently...
    assert len({order for order, _prod in runs}) > 1
    # ...and the product is the same bits under every one of them
    assert len({prod for _order, prod in runs}) == 1, runs
