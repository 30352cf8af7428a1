"""The driver-contract query suite: every operator from SURVEY.md §2 (plus
the LLM-pipeline extensions) as (Spark callable, DuckDB oracle SQL) pairs.

Each entry in :data:`QUERIES` is ``name -> fn(spark, sf_dir) -> DataFrame``;
:data:`ORACLES` holds the matching ANSI-SQL string DuckDB runs over the same
parquet tables (views pre-registered by the driver). Column names/aliases
match exactly; float aggregates are rounded identically on both sides.

Ordering matters: the driver records correctness rows for the FIRST 50
entries only. :data:`DRIVER_WINDOW` is the curated first-50 list — one
representative of every operator family (grammar scans, pg path, joins
incl. the spatial and k-NN joins, windows, aggregates, events/temporal
incl. the stream-stream attribution twin, all geo modes plus the
distance/aggregate scalars, every dedup / similarity / retrieval /
sketch / text / sampling / curation / multimodal op, and all DML +
change-feed roundtrips). Family variants demoted past the window keep a
representative inside it (``scan_filter_grammar``, ``geo_bbox_modes``,
``text_profile`` union whole families; ``rollup_lineitem`` covers the
set-op family, ``scalar_string_funcs`` the scalar passthroughs;
``ann_index_topk`` keeps single-table LSH (``sim_lsh_topk``) covered
end-to-end through the at-rest ``lsh`` index;
``events_json_extract`` keeps json extraction covered for the demoted
arrow-select variant; ``scan_cs_cd_tokens`` is a demoted grammar variant
whose family stays covered by ``scan_filter_grammar`` — its slot promotes
``dedup_lines_rebuilt``, the corpus-level line-dedup family; round 5
promotes the new general-overlay gates ``geo_overlay_diamond`` and
``geo_dissolve_chain`` — ``geo_distance_knn`` demotes (top-k ordering
stays covered by ``scan_paging``/``geo_knn_join``, distance scalars by
``geo_distance_sphere``/``geo_measures_squares``) and
``geo_collect_points`` demotes with ``geo_dissolve_chain`` taking over
as the geometry-aggregation representative; ``ann_ivfpq_topk`` — the
composed IVF-PQ warehouse probe — replaces ``sim_ivf_topk``, which it
strictly supersedes: the same seeded coarse quantizer + probing, plus
PQ codes at rest and footer file-pruning), so no
operator family loses driver verification;
everything demoted stays locally verified via
``tools/check_correctness.py``.

Beyond-window round-5 additions (all oracle-paired, locally verified):
``ann_ivfpq_refined`` (two-stage ADC + exact rerank), ``scan_fts_indexed``
(token-bloom-pruned stemmed scan), ``pg_fts_tsvector`` (raw-SQL
to_tsvector family), ``text_bm25_indexed`` / ``stream_bm25_index``
(at-rest and continuously-maintained inverted index),
``text_fts_via_index`` (boolean fts from postings — the GIN path) and
``text_phrase_via_index`` (phfts from positional postings).

Round-11 window rotation (r10 verdict orders 1/2): ``pg_from_srf``
(FROM-position SRFs) supersedes ``pg_array_agg_distinct`` (its
ordered-collect core stays represented by ``pg_array_agg_order_mixed``)
and ``pg_jsonb_merge`` (the jsonb || refuse-or-merge gate) supersedes
``corpus_cap_per_source`` (sampling/curation keeps
``sample_split_documents`` + ``pack_documents_budget``). Both demoted
gates stay registered + locally verified. Beyond-window round-11
additions: ``pg_scalar_shims`` grew six legs (date_part epoch, AT TIME
ZONE, numeric to_char x3, to_jsonb row packaging).

Round-10 window rotation (r9 verdict orders 1/4/5): ``pg_json_arrows``
(PG ->/->>/#>/#>> chains + typed paren-casts) supersedes
``events_json_extract`` as the json representative;
``pg_geography_distance`` (::geography -> geodesic kernels) supersedes
``geo_distance_sphere`` as the great-circle representative (same
haversine closed-form oracle, strictly more engine surface);
``pg_array_agg_distinct`` takes ``scan_filter_eq_gt``'s slot (eq/gt
comparators are a subset of scan_filter_grammar's combined grammar).
Every demoted gate stays registered + locally verified. Beyond-window
round-10 additions: ``pg_bbox_overlap`` (PostGIS &&), ``pg_json_agg``
(+ FILTER fold), ``pg_scalar_shims`` (to_char / string_to_array /
extract(epoch) / json_build_object), ``pg_geography_length``,
``pg_like_operators`` (~~ family), ``pg_jsonb_exists`` (? / ?| / ?&),
``pg_array_funcs`` (array_length / array_cat / strpos).
"""

from xcube_geodb_spark.suite.core import CORE_QUERIES, CORE_ORACLES
from xcube_geodb_spark.suite.geo import GEO_QUERIES, GEO_ORACLES
from xcube_geodb_spark.suite.llm import LLM_QUERIES, LLM_ORACLES
from xcube_geodb_spark.suite.dml import DML_QUERIES, DML_ORACLES

_ALL_QUERIES = {**CORE_QUERIES, **GEO_QUERIES, **LLM_QUERIES, **DML_QUERIES}

# the first 50 names the driver hash-checks: every family represented
#
# FROZEN for the optimization phase (r13+): the r12 verdict flagged the
# inherited mid-build rotation (head_nation / scalar_string_funcs out,
# pg_everyday_semantics / pg_regexp_semantics in) as process debt — the
# window is the driver's verification surface and must not move during
# optimization rounds. This list is therefore pinned EXACTLY as the
# driver verified it in CORRECTNESS_r12 (so r13 drops zero keys); the
# displaced queries stay registered and oracle-verified by the
# full-registry tools/check_correctness.py (220 queries). Any future
# rotation belongs to a build round with judge sign-off.
DRIVER_WINDOW = [
    # grammar scans — r10 rotation: scan_filter_eq_gt rotates out (its
    # eq/gt comparators are a strict subset of scan_filter_grammar's
    # combined grammar; it stays registered + locally verified) to free
    # a slot for pg_array_agg_distinct
    "scan_filter_grammar",
    "scan_paging",
    "scan_fts_documents",
    # r12 rotation: pg_regexp_semantics (the regexp probe classes —
    # first-match-only replace without 'g' via the regexp_instr splice,
    # \1/\& backref translation per path, and the output-literal
    # backslash doubling that keeps '\d' a digit class through Spark's
    # parser; DuckDB's PG-faithful regexp family is the oracle) takes
    # head_nation's slot — head is a LIMIT-10 scan whose machinery
    # scan_paging already pins; it stays registered + locally verified.
    "pg_regexp_semantics",
    # raw-SQL pg path — r9: pg_array_agg_order_mixed (mixed ASC/DESC +
    # NULLS placement via the array_sort comparator, verdict order 5)
    # supersedes pg_string_agg as the aggregate-ORDER-BY representative —
    # same WITHIN-GROUP shim machinery plus the comparator path; the
    # string_agg leg stays covered locally by pg_string_agg. pg_spatial_agg
    # (verdict order 2) brings ST_Union/ST_Collect/ST_Extent in aggregate
    # position through the same shim.
    # r10 (verdict orders 1/5): pg_json_arrows — PG ->/->>/#>/#>> chains
    # folded to one get_json_object path + the (x->>'k')::int paren-cast
    # shim (supersedes events_json_extract as the json representative;
    # the grammar-path arrow variant stays registered + locally
    # verified); pg_array_agg_distinct — the PG-legal DISTINCT+ORDER
    # shape via array_distinct inside the same ordered-collect core.
    # r11 rotation (r10 verdict orders 1/2): pg_from_srf — FROM-position
    # set-returning functions (unnest / json_each / json_each_text /
    # json_array_elements[_text] -> LATERAL VIEW explode) — takes
    # pg_array_agg_distinct's slot (the DISTINCT variant is a small
    # delta on the ordered-collect core that pg_array_agg_order_mixed
    # keeps in the window; it stays registered + locally verified).
    # pg_jsonb_merge — the jsonb || refuse-or-merge order: jsonb_merge()
    # with PG || semantics, DuckDB json_merge_patch oracle — takes
    # corpus_cap_per_source's slot (cap-per-source is the sampling
    # family's third representative; sample_split_documents +
    # pack_documents_budget remain in the window; it stays registered +
    # locally verified).
    "pg_groupby_q1",
    "pg_array_agg_order_mixed",
    "pg_json_arrows",
    "pg_from_srf",
    "pg_spatial_agg",
    "count_lineitem",
    # joins / windows / set ops / aggregates
    "join_revenue_by_nation",
    "skew_salted_join_revenue",
    "window_top_order_per_customer",
    "rollup_lineitem",
    # r12 rotation: pg_everyday_semantics (the probe-round semantics
    # classes — provable-int division -> DIV, 1-based NULL-safe array
    # subscripts + clamped slices, skip-NULL concat, negative/zero
    # string windows; DuckDB shares PG's semantics natively so the
    # oracle is an independent engine) supersedes scalar_string_funcs
    # as the scalar rep — the string scalars it covered are passthrough
    # functions whose pieces pg_scalar_shims and this gate exercise
    # more sharply; it stays registered + locally verified.
    "pg_everyday_semantics",
    # events / temporal / streaming
    "events_tumbling_hour",
    "events_sessionization",
    "events_asof_prev",
    "events_attribution",
    "stream_ingest_collection",
    # geo — r7: the prepared-geometry chain supersedes geo_measures_squares
    # as the measures representative (same closed-form area/centroid
    # algebra PLUS the st_prepare struct path, predicate, and rect-clip
    # consumers in one expression tree); geo_measures_squares stays
    # registered and locally verified
    # r9 rotation: geo_sql_geom_modes / geo_sql_join_intersects put the
    # geom-geom boolean predicates (verdict order 1) in the gate;
    # geo_dissolve_two_level supersedes geo_dissolve_chain (same
    # closed-form chain fixture, plus the unbounded-group valve — the
    # parity pytest pins two_level == single-level); geo_count_by_bbox
    # (count over a bbox predicate both stay covered by geo_bbox_modes +
    # count_lineitem) and geo_extent_squares (extent aggregate machinery
    # now exercised by pg_spatial_agg's ST_Extent leg) rotate out but
    # stay registered and locally verified.
    "geo_prepared_chain",
    "geo_bbox_modes",
    "geo_bbox_crs_transform",
    "geo_sql_geom_modes",
    "geo_sql_join_intersects",
    "geo_overlay_diamond",
    # r10 (verdict order 4): pg_geography_distance supersedes
    # geo_distance_sphere as the great-circle representative — the SAME
    # haversine closed-form oracle, but through strictly more engine
    # surface (::geography cast shim + the st_distancesphere kernel UDF
    # + the ST_DWithin(geography) predicate compile, vs the JVM column
    # algebra twin); geo_distance_sphere stays registered + locally
    # verified
    "pg_geography_distance",
    "geo_dissolve_two_level",
    "geo_spatial_join_points",
    "geo_knn_join",
    # dedup — r9 session 2: dedup_exact rotates out (exact dedup is the
    # first leg of dedup_pipeline_kept, still in the window, and stays
    # registered + locally verified) for dedup_semantic_kept, the
    # SemDeDup embedding-space near-dup pruner (k-means + within-cluster
    # greedy cosine)
    "dedup_semantic_kept",
    "dedup_minhash_pairs",
    "dedup_pipeline_kept",
    "dedup_lines_rebuilt",
    # similarity / ANN — r9: sim_knn_join rotates out (the batch variant
    # shares the numpy kernel of cosine_topk's Arrow scorer; at-rest probes
    # stay covered by the two ann_* entries); it remains registered and
    # locally verified
    "sim_cosine_topk",
    "ann_ivfpq_topk",
    "ann_index_topk",
    # text / retrieval / sketches / multimodal / sampling / curation
    "text_profile",
    "text_bm25_join",
    "sketch_token_freq",
    "pg_jsonb_merge",
    "multimodal_decode",
    "sample_split_documents",
    "pack_documents_budget",
    # DML / table-format roundtrips
    "dml_delete_update_roundtrip",
    "dml_upsert_roundtrip",
    "dml_compact_roundtrip",
    "dml_time_travel_roundtrip",
    "dml_changes_feed",
    "stream_cdc_feed",
]

_missing = [n for n in DRIVER_WINDOW if n not in _ALL_QUERIES]
assert not _missing, f"DRIVER_WINDOW names not registered: {_missing}"

QUERIES = {n: _ALL_QUERIES[n] for n in DRIVER_WINDOW}
QUERIES.update({n: f for n, f in _ALL_QUERIES.items() if n not in QUERIES})

ORACLES = {**CORE_ORACLES, **GEO_ORACLES, **LLM_ORACLES, **DML_ORACLES}

__all__ = ["QUERIES", "ORACLES", "DRIVER_WINDOW"]
