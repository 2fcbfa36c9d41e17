"""The reference pipeline's flagship transform: wide flatten of a nested
OCDS-shaped release (P2, ref 2a_extract_contracts_finder.py:257-643).

The reference spends ~390 LoC of imperative loops turning one nested OCDS
release into a ~121-column flat row (record dict at 2a:494-643). The
Spark-first translation is: build the nested document as real nested
columns, then ONE wide ``select`` of dot-paths and higher-order functions
— the whole flatten is a single Catalyst Project (zero Python, zero extra
shuffle beyond the document build itself).

``ocds_flatten_wide`` rebuilds the reference's record shape from the
driver's star schema (order = release, customer = buyer, lineitems =
items/supplier parties, nation = buyer country) and flattens it with the
exact operator set and COLUMN CONTRACT the reference uses: buyer
first-match by id (2a:82-91), supplier role filter (2a:94-101), pipe_join
folds (2a:147-150), two-level flatten (2a:360-367), first-element plucks
(2a:75-79), and the full column families of 2a:494-643 — bookkeeping,
identification, planning, publisher/meta, tender basics, value, CPV,
tender documents, geography, timing, method/SME, buyer, supplier parties,
links, and award-level fields.

Both dialects are generated from ONE paired-expression table (`_P`
spark/duck spellings), so the Spark program and the DuckDB oracle cannot
drift column-by-column.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uk_procurement_data_pipeline_spark.catalog import load, spread
from uk_procurement_data_pipeline_spark.queries.base import register


class _P(NamedTuple):
    """One expression, spelled in Spark SQL and in DuckDB SQL."""

    s: str  # Spark SQL
    d: str  # DuckDB SQL


def _c(expr: str) -> _P:
    """Expression valid verbatim in both dialects (dot-paths, CASE...)."""
    return _P(expr, expr)


def _pj(arr: _P, lam: str) -> _P:
    """pipe_join (ref 2a:147-150): '|'-join of a per-element transform."""
    return _P(
        f"array_join(transform({arr.s}, {lam}), '|')",
        f"array_to_string(list_transform({arr.d}, {lam}), '|')",
    )


def _join(arr: _P, sep: str = "|") -> _P:
    """'|'-join of an existing string array."""
    return _P(
        f"array_join({arr.s}, '{sep}')", f"array_to_string({arr.d}, '{sep}')"
    )


def _ju(arr: _P, lam: str) -> _P:
    """_join_unique (ref 2b:13-15): sorted-distinct ';'-join of a transform."""
    return _P(
        f"array_join(array_sort(array_distinct(transform({arr.s}, {lam}))), ';')",
        f"array_to_string(list_sort(list_distinct(list_transform({arr.d}, {lam}))), ';')",
    )


def _ju0(arr: _P) -> _P:
    """sorted-distinct ';'-join of an existing string array."""
    return _P(
        f"array_join(array_sort(array_distinct({arr.s})), ';')",
        f"array_to_string(list_sort(list_distinct({arr.d})), ';')",
    )


def _first(arr: _P) -> _P:
    return _P(f"element_at({arr.s}, 1)", f"({arr.d})[1]")


def _get(x: _P, path: str) -> _P:
    return _P(f"{x.s}.{path}", f"{x.d}.{path}")


def _flt(arr: _P, pred_s: str, pred_d: str | None = None) -> _P:
    return _P(
        f"filter({arr.s}, {pred_s})", f"list_filter({arr.d}, {pred_d or pred_s})"
    )


def _fl(arr: _P, lam: str) -> _P:
    """flatten-of-transform (two-level flatten, ref 2a:360-367)."""
    return _P(
        f"flatten(transform({arr.s}, {lam}))",
        f"flatten(list_transform({arr.d}, {lam}))",
    )


def _sz(arr: _P) -> _P:
    return _P(f"size({arr.s})", f"len({arr.d})")


# --- shared nested-array handles -------------------------------------------
ITEMS = _c("release.tender.items")
TDOCS = _c("release.tender.documents")
PARTIES = _c("release.parties")
AWARDS = _c("release.awards")
MS = _c("release.planning.milestones")
PDOCS = _c("release.planning.documents")
SUP = _flt(
    PARTIES,
    "p -> array_contains(p.roles, 'supplier')",
    "p -> list_contains(p.roles, 'supplier')",
)
BP = _first(_flt(PARTIES, "p -> p.id = release.buyer.id"))  # J1 first-match
ADDRS = _fl(ITEMS, "i -> i.addrs")
AW = _first(AWARDS)
ADOCS = _get(AW, "documents")
ASUP = _get(AW, "suppliers")
ITEM1 = _first(ITEMS)
TN = _first(_flt(TDOCS, "d -> d.documentType = 'tenderNotice'"))  # J3
AN = _first(_flt(TDOCS, "d -> d.documentType = 'awardNotice'"))

# --- the flatten: (output column, paired expression) ------------------------
# Ordered per the reference record dict (2a:494-643). Columns that existed
# in rounds 1-2 keep their names and values (golden pins).
_FLAT: list[tuple[str, _P]] = [
    # bookkeeping (2a:496-498)
    ("csv_file", _c("release.csv_file")),
    ("row_index", _c("release.row_index")),
    ("status", _c("release.status")),
    # identification (2a:501-510)
    ("uri", _c("release.uri")),
    ("publishedDate", _c("release.publishedDate")),
    ("ocid", _c("release.ocid")),
    ("published", _c("release.published")),  # round-1 column (DATE)
    ("release_id", _c("release.release_id")),
    ("release_title", _c("release.release_title")),
    ("release_date", _c("release.release_date")),
    ("release_language", _c("release.release_language")),
    ("release_tag", _first(_c("release.tags"))),
    ("release_tags_all", _join(_c("release.tags"))),
    ("initiationType", _c("release.initiationType")),
    # planning (2a:513-523)
    ("planning_milestone_ids", _pj(MS, "m -> m.id")),
    ("planning_milestone_titles", _pj(MS, "m -> m.title")),
    ("planning_milestone_types", _pj(MS, "m -> m.mtype")),
    ("planning_milestone_dueDates", _pj(MS, "m -> m.dueDate")),
    ("planning_document_ids", _pj(PDOCS, "d -> d.doc_id")),
    ("planning_document_types", _pj(PDOCS, "d -> d.documentType")),
    ("planning_document_descriptions", _pj(PDOCS, "d -> d.description")),
    ("planning_document_urls", _pj(PDOCS, "d -> d.url")),
    ("planning_document_datePublished", _pj(PDOCS, "d -> d.datePublished")),
    ("planning_document_formats", _pj(PDOCS, "d -> d.fmt")),
    ("planning_document_languages", _pj(PDOCS, "d -> d.language")),
    # publisher / meta (2a:526-533)
    ("publisher_name", _c("release.publisher.name")),
    ("publisher_scheme", _c("release.publisher.scheme")),
    ("publisher_uid", _c("release.publisher.uid")),
    ("publisher_uri", _c("release.publisher.uri")),
    ("version", _c("release.version")),
    ("extensions", _join(_c("release.extensions"))),
    ("license", _c("release.license")),
    ("publicationPolicy", _c("release.publicationPolicy")),
    # tender basics (2a:536-540)
    ("tender_id", _c("release.tender.id")),
    ("tender_title", _c("release.tender.title")),
    ("tender_description", _c("release.tender.description")),
    ("tender_status", _c("release.tender.status")),
    ("mainProcurementCategory", _c("release.tender.mainProcurementCategory")),
    # value (2a:543-546)
    ("value_amount", _c("release.tender.amount")),
    ("value_currency", _c("release.tender.currency")),
    ("minValue_amount", _c("release.tender.minValue_amount")),
    ("minValue_currency", _c("release.tender.minValue_currency")),
    # round-1 aliases for the same tender value fields
    ("tender_amount", _c("release.tender.amount")),
    ("tender_currency", _c("release.tender.currency")),
    # CPV (2a:549-553)
    ("cpv_scheme", _get(ITEM1, "cls.scheme")),
    ("cpv_id", _get(ITEM1, "cls.id")),
    ("cpv_description", _get(ITEM1, "cls.description")),
    (
        "additional_cpv_ids",
        _P(
            "array_join(transform(slice(release.tender.items, 2, "
            "greatest(size(release.tender.items) - 1, 0)), i -> i.cls.id), '|')",
            "COALESCE(array_to_string(list_transform(release.tender.items[2:], "
            "i -> i.cls.id), '|'), '')",
        ),
    ),
    (
        "additional_cpv_descriptions",
        _P(
            "array_join(transform(slice(release.tender.items, 2, "
            "greatest(size(release.tender.items) - 1, 0)), i -> i.cls.description), '|')",
            "COALESCE(array_to_string(list_transform(release.tender.items[2:], "
            "i -> i.cls.description), '|'), '')",
        ),
    ),
    # round-1 head/rest split kept (';'-joined ids)
    ("main_cpv", _get(ITEM1, "cls.id")),
    (
        "additional_cpvs",
        _P(
            "array_join(transform(slice(release.tender.items, 2, "
            "greatest(size(release.tender.items) - 1, 0)), i -> i.cls.id), ';')",
            "COALESCE(array_to_string(list_transform(release.tender.items[2:], "
            "i -> i.cls.id), ';'), '')",
        ),
    ),
    # tender documents (2a:554-561)
    ("tender_document_ids", _pj(TDOCS, "d -> d.doc_id")),
    ("tender_document_types", _pj(TDOCS, "d -> d.documentType")),
    ("tender_document_descriptions", _pj(TDOCS, "d -> d.description")),
    ("tender_document_urls", _pj(TDOCS, "d -> d.url")),
    ("tender_document_datePublished", _pj(TDOCS, "d -> d.datePublished")),
    ("tender_document_dateModified", _pj(TDOCS, "d -> d.dateModified")),
    ("tender_document_formats", _pj(TDOCS, "d -> d.fmt")),
    ("tender_document_languages", _pj(TDOCS, "d -> d.language")),
    ("n_documents", _sz(TDOCS)),
    # geography (2a:564-570)
    ("tender_item_ids", _pj(ITEMS, "i -> CAST(i.item_id AS STRING)")),
    ("tender_delivery_postalCodes_all", _pj(ADDRS, "ad -> ad.postalCode")),
    ("tender_delivery_regions_all", _pj(ADDRS, "ad -> ad.region")),
    ("tender_delivery_countryNames_all", _pj(ADDRS, "ad -> ad.countryName")),
    ("delivery_postalCode", _get(_first(ADDRS), "postalCode")),
    ("delivery_region", _get(_first(ADDRS), "region")),
    ("delivery_country", _get(_first(ADDRS), "countryName")),
    # round-1 distinct-sorted geography folds kept
    ("delivery_postcodes", _ju(ADDRS, "ad -> ad.postalCode")),
    ("delivery_regions", _ju(ADDRS, "ad -> ad.region")),
    # timing (2a:573-576)
    ("tender_datePublished", _c("release.tender.datePublished")),
    ("tender_endDate", _c("release.tender.endDate")),
    ("contract_startDate", _c("release.tender.contract_startDate")),
    ("contract_endDate", _c("release.tender.contract_endDate")),
    # method / SME flags (2a:579-582)
    ("procurementMethod", _c("release.tender.procurementMethod")),
    ("procurementMethodDetails", _c("release.tender.procurementMethodDetails")),
    ("suitability_sme", _c("release.tender.suitability_sme")),
    ("suitability_vcse", _c("release.tender.suitability_vcse")),
    # buyer (2a:585-598), all through the J1 first-match party
    ("buyer_id", _c("release.buyer.id")),
    ("buyer_name", _c("release.buyer.name")),
    ("buyer_party_name", _get(BP, "name")),  # round-1 column
    ("buyer_legalName", _get(BP, "legalName")),
    ("buyer_identifier_scheme", _get(BP, "id_scheme")),
    ("buyer_identifier_id", _get(BP, "id_id")),
    ("buyer_streetAddress", _get(BP, "streetAddress")),
    ("buyer_locality", _get(BP, "locality")),
    ("buyer_postalCode", _get(BP, "postalCode")),
    ("buyer_countryName", _get(BP, "countryName")),
    ("buyer_contact_name", _get(BP, "contact_name")),
    ("buyer_contact_email", _get(BP, "contact_email")),
    ("buyer_contact_telephone", _get(BP, "contact_telephone")),
    ("buyer_details_url", _get(BP, "details_url")),
    ("buyer_roles", _join(_get(BP, "roles"))),
    # supplier parties (2a:601-613), J2 role filter + folds
    ("n_supplier_parties", _sz(SUP)),
    ("supplier_party_ids", _pj(SUP, "p -> CAST(p.id AS STRING)")),
    ("supplier_party_names", _pj(SUP, "p -> p.name")),
    ("supplier_legalNames", _pj(SUP, "p -> p.legalName")),
    ("supplier_identifier_schemes", _pj(SUP, "p -> p.id_scheme")),
    ("supplier_identifier_ids", _pj(SUP, "p -> p.id_id")),
    ("supplier_streetAddresses", _pj(SUP, "p -> p.streetAddress")),
    ("supplier_localities", _pj(SUP, "p -> p.locality")),
    ("supplier_postalCodes", _pj(SUP, "p -> p.postalCode")),
    ("supplier_countryNames", _pj(SUP, "p -> p.countryName")),
    ("supplier_scales", _pj(SUP, "p -> p.scale")),
    ("supplier_vcse_flags", _pj(SUP, "p -> CAST(p.vcse AS STRING)")),
    ("supplier_details_urls", _pj(SUP, "p -> p.details_url")),
    ("supplier_roles", _join(_fl(SUP, "p -> p.roles"))),
    # round-1 supplier folds kept
    ("supplier_ids", _ju(SUP, "p -> CAST(p.id AS STRING)")),
    ("all_supplier_roles", _ju0(_fl(SUP, "p -> p.roles"))),
    # links (2a:616-617)
    ("tender_notice_url", _get(TN, "url")),
    ("tender_notice_description", _get(TN, "description")),
    ("award_notice_url", _get(AN, "url")),  # round-1 column
    # award-level fields, first award (2a:620-642)
    ("award_id", _get(AW, "award_id")),
    ("award_status", _get(AW, "astatus")),
    ("award_date", _get(AW, "adate")),
    ("award_datePublished", _get(AW, "datePublished")),
    ("award_value_amount", _get(AW, "amount")),
    ("award_value_currency", _get(AW, "currency")),
    ("award_contract_startDate", _get(AW, "contract_startDate")),
    ("award_contract_endDate", _get(AW, "contract_endDate")),
    ("award_suppliers_ids", _pj(ASUP, "s -> CAST(s.id AS STRING)")),
    ("award_suppliers_names", _pj(ASUP, "s -> s.name")),
    ("award_notice_description", _get(AW, "notice.description")),
    ("award_notice_datePublished", _get(AW, "notice.datePublished")),
    ("award_notice_format", _get(AW, "notice.fmt")),
    ("award_notice_language", _get(AW, "notice.language")),
    ("award_document_ids", _pj(ADOCS, "d -> d.doc_id")),
    ("award_document_types", _pj(ADOCS, "d -> d.documentType")),
    ("award_document_descriptions", _pj(ADOCS, "d -> d.description")),
    ("award_document_urls", _pj(ADOCS, "d -> d.url")),
    ("award_document_datePublished", _pj(ADOCS, "d -> d.datePublished")),
    ("award_document_dateModified", _pj(ADOCS, "d -> d.dateModified")),
    ("award_document_formats", _pj(ADOCS, "d -> d.fmt")),
    ("award_document_languages", _pj(ADOCS, "d -> d.language")),
    # round-1 aggregate/pluck columns kept
    ("n_items", _sz(ITEMS)),
    ("first_item_part", _get(ITEM1, "part")),
    ("items_pipe", _pj(ITEMS, "i -> CAST(i.part AS STRING)")),
    ("n_awards", _sz(AWARDS)),
    ("first_award_id", _get(AW, "award_id")),
    ("n_award_supplier_refs", _sz(_fl(AWARDS, "a -> a.suppliers"))),
    (
        "awards_total",
        _P(
            "aggregate(release.awards, 0D, (acc, a) -> acc + a.amount)",
            "list_sum(list_transform(release.awards, a -> a.amount))",
        ),
    ),
    (
        "status_category",
        _c(
            "CASE release.tender.status WHEN 'O' THEN 'OPEN' "
            "WHEN 'F' THEN 'FULFILLED' WHEN 'P' THEN 'PENDING' "
            "ELSE 'OTHER' END"
        ),
    ),
    (
        "published_month",
        _P(
            "date_format(release.published, 'MMMM')",
            "monthname(release.published)",
        ),
    ),
    (
        "qty_pipe",
        _pj(ITEMS, "i -> CAST(CAST(i.qty AS BIGINT) AS STRING)"),
    ),
    (
        "total_qty",
        _P(
            "aggregate(release.tender.items, 0L, (acc, i) -> acc + CAST(i.qty AS BIGINT))",
            "CAST(list_sum(list_transform(release.tender.items, "
            "i -> CAST(i.qty AS BIGINT))) AS BIGINT)",
        ),
    ),
]

assert len({a for a, _ in _FLAT}) == len(_FLAT), "duplicate flatten alias"
N_FLAT_COLUMNS = len(_FLAT)


# --- nested document build --------------------------------------------------
def _sdate(n: int) -> str:
    """Spark: o_orderdate + n days as 'yyyy-MM-dd' string."""
    src = f"date_add(o_orderdate, {n})" if n else "o_orderdate"
    return f"date_format({src}, 'yyyy-MM-dd')"


def _ddate(n: int) -> str:
    """DuckDB: o_orderdate + n days as '%Y-%m-%d' string (o_orderdate is a
    TIMESTAMP in the fixtures, so day arithmetic needs INTERVAL)."""
    src = f"(o_orderdate + INTERVAL {n} DAY)" if n else "o_orderdate"
    return f"strftime({src}, '%Y-%m-%d')"


_OK_S = "CAST(o_orderkey AS STRING)"

# items + supplier-party build (shared semantics, per-dialect spelling)
_CPV_ID_S = "CAST(45000000 + l_partkey % 100000 AS STRING)"
_LOCALITY = (
    "CASE sid % 5 WHEN 0 THEN 'Leeds' WHEN 1 THEN 'York' "
    "WHEN 2 THEN 'Bath' WHEN 3 THEN 'Hull' ELSE 'Derby' END"
)
_SCALE = "CASE sid % 3 WHEN 0 THEN 'sme' WHEN 1 THEN 'large' ELSE 'micro' END"
_REGION_CASE = (
    "CASE l_linenumber % 3 WHEN 0 THEN 'London' "
    "WHEN 1 THEN 'Wales' ELSE 'Scotland' END"
)
# Same expressions over the post-aggregation slim item triple `t`
# (t.part = l_partkey, t.item_id = l_linenumber) — used to build cls/addrs
# AFTER the collect_list shuffle instead of per source lineitem row.
_CPV_ID_T = "CAST(45000000 + t.part % 100000 AS STRING)"
_REGION_CASE_T = (
    "CASE t.item_id % 3 WHEN 0 THEN 'London' "
    "WHEN 1 THEN 'Wales' ELSE 'Scotland' END"
)

_SUPPLIER_PARTY_S = f"""transform(array_sort(collect_set(CAST(l_suppkey AS BIGINT))),
    sid -> struct(
        sid AS id,
        concat('Supplier#', CAST(sid AS STRING)) AS name,
        concat('Supplier#', CAST(sid AS STRING), ' Ltd') AS legalName,
        'GB-COH' AS id_scheme,
        CAST(sid AS STRING) AS id_id,
        concat(CAST(sid AS STRING), ' High St') AS streetAddress,
        {_LOCALITY} AS locality,
        concat('SP', CAST(sid % 1000 AS STRING)) AS postalCode,
        'United Kingdom' AS countryName,
        {_SCALE} AS scale,
        CAST(if(sid % 7 = 0, 1, 0) AS BIGINT) AS vcse,
        '' AS contact_name, '' AS contact_email, '' AS contact_telephone,
        concat('https://supplier.example/', CAST(sid AS STRING)) AS details_url,
        array('supplier', 'tenderer') AS roles))"""

_SUPPLIER_PARTY_D = f"""list_transform(list_sort(list_distinct(list(CAST(l_suppkey AS BIGINT)))),
    sid -> struct_pack(
        id := sid,
        name := 'Supplier#' || CAST(sid AS STRING),
        legalName := 'Supplier#' || CAST(sid AS STRING) || ' Ltd',
        id_scheme := 'GB-COH',
        id_id := CAST(sid AS STRING),
        streetAddress := CAST(sid AS STRING) || ' High St',
        locality := {_LOCALITY},
        postalCode := 'SP' || CAST(sid % 1000 AS STRING),
        countryName := 'United Kingdom',
        scale := {_SCALE},
        vcse := CAST(CASE WHEN sid % 7 = 0 THEN 1 ELSE 0 END AS BIGINT),
        contact_name := '', contact_email := '', contact_telephone := '',
        details_url := 'https://supplier.example/' || CAST(sid AS STRING),
        roles := ['supplier', 'tenderer']))"""

_BUYER_PARTY_S = """struct(
    CAST(o_custkey AS BIGINT) AS id,
    c_name AS name,
    concat(c_name, ' Authority') AS legalName,
    'GB-LAC' AS id_scheme,
    CAST(o_custkey AS STRING) AS id_id,
    concat(CAST(o_custkey AS STRING), ' Council House') AS streetAddress,
    c_mktsegment AS locality,
    concat('B', CAST(o_custkey % 1000 AS STRING)) AS postalCode,
    n_name AS countryName,
    '' AS scale,
    CAST(0 AS BIGINT) AS vcse,
    concat('Officer ', CAST(o_custkey AS STRING)) AS contact_name,
    concat('c', CAST(o_custkey AS STRING), '@buyer.gov.uk') AS contact_email,
    concat('+44-', CAST(o_custkey % 10000 AS STRING)) AS contact_telephone,
    concat('https://buyer.example/', CAST(o_custkey AS STRING)) AS details_url,
    array('buyer') AS roles)"""

_BUYER_PARTY_D = """struct_pack(
    id := CAST(o_custkey AS BIGINT),
    name := c_name,
    legalName := c_name || ' Authority',
    id_scheme := 'GB-LAC',
    id_id := CAST(o_custkey AS STRING),
    streetAddress := CAST(o_custkey AS STRING) || ' Council House',
    locality := c_mktsegment,
    postalCode := 'B' || CAST(o_custkey % 1000 AS STRING),
    countryName := n_name,
    scale := '',
    vcse := CAST(0 AS BIGINT),
    contact_name := 'Officer ' || CAST(o_custkey AS STRING),
    contact_email := 'c' || CAST(o_custkey AS STRING) || '@buyer.gov.uk',
    contact_telephone := '+44-' || CAST(o_custkey % 10000 AS STRING),
    details_url := 'https://buyer.example/' || CAST(o_custkey AS STRING),
    roles := ['buyer'])"""

_PROC_METHOD = (
    "CASE substr(o_orderpriority, 1, 1) WHEN '1' THEN 'open' "
    "WHEN '2' THEN 'selective' ELSE 'limited' END"
)
_MAIN_CATEGORY = (
    "CASE o_orderkey % 3 WHEN 0 THEN 'goods' WHEN 1 THEN 'works' "
    "ELSE 'services' END"
)
_AWARD_STATUS = (
    "CASE o_orderstatus WHEN 'F' THEN 'active' WHEN 'O' THEN 'pending' "
    "ELSE 'unsuccessful' END"
)

_RELEASE_S = f"""struct(
    concat('notices-', {_sdate(0)}, '.csv') AS csv_file,
    CAST(o_orderkey % 1000 AS BIGINT) AS row_index,
    'ok' AS status,
    concat('https://contracts.example/notice/', {_OK_S}) AS uri,
    concat({_sdate(0)}, 'T00:00:00Z') AS publishedDate,
    concat('ocds-', {_OK_S}) AS ocid,
    o_orderdate AS published,
    concat('ocds-', {_OK_S}, '-01') AS release_id,
    concat('Procurement notice ', {_OK_S}) AS release_title,
    {_sdate(0)} AS release_date,
    'en' AS release_language,
    array('planning', 'tender') AS tags,
    'tender' AS initiationType,
    struct(
        array(
            struct(concat('pm1-', {_OK_S}) AS id, 'Market engagement' AS title,
                   'engagement' AS mtype, {_sdate(5)} AS dueDate),
            struct(concat('pm2-', {_OK_S}) AS id, 'Publication' AS title,
                   'publication' AS mtype, {_sdate(8)} AS dueDate)) AS milestones,
        array(
            struct(concat('pd1-', {_OK_S}) AS doc_id,
                   'procurementPlan' AS documentType,
                   'Procurement plan' AS description,
                   concat('http://p/', {_OK_S}) AS url,
                   {_sdate(1)} AS datePublished,
                   'html' AS fmt, 'en' AS language)) AS documents) AS planning,
    struct('UK Contracts Finder' AS name, 'GB-GOV' AS scheme,
           '12345' AS uid,
           'https://www.contractsfinder.service.gov.uk' AS uri) AS publisher,
    '1.1' AS version,
    array('https://ext.example/lots', 'https://ext.example/suitability')
        AS extensions,
    'https://www.nationalarchives.gov.uk/doc/open-government-licence/version/3/'
        AS license,
    'https://contracts.example/policy' AS publicationPolicy,
    struct(o_custkey AS id, c_name AS name) AS buyer,
    struct(
        concat('t-', {_OK_S}) AS id,
        concat('Tender for order ', {_OK_S}) AS title,
        concat('Priority ', o_orderpriority, ' order for ', c_mktsegment) AS description,
        o_orderstatus AS status,
        {_MAIN_CATEGORY} AS mainProcurementCategory,
        o_totalprice AS amount,
        'GBP' AS currency,
        o_totalprice * 0.5 AS minValue_amount,
        'GBP' AS minValue_currency,
        {_PROC_METHOD} AS procurementMethod,
        o_orderpriority AS procurementMethodDetails,
        CAST(o_orderkey % 2 AS BIGINT) AS suitability_sme,
        CAST(if(o_orderkey % 5 = 0, 1, 0) AS BIGINT) AS suitability_vcse,
        {_sdate(0)} AS datePublished,
        {_sdate(30)} AS endDate,
        {_sdate(40)} AS contract_startDate,
        {_sdate(400)} AS contract_endDate,
        items,
        array(
            struct(concat('d1-', {_OK_S}) AS doc_id,
                   'tenderNotice' AS documentType,
                   'Published tender notice' AS description,
                   concat('http://n/', {_OK_S}) AS url,
                   {_sdate(2)} AS datePublished, {_sdate(3)} AS dateModified,
                   'html' AS fmt, 'en' AS language),
            struct(concat('d2-', {_OK_S}) AS doc_id,
                   'awardNotice' AS documentType,
                   'Published award notice' AS description,
                   concat('http://a/', {_OK_S}) AS url,
                   {_sdate(15)} AS datePublished, {_sdate(16)} AS dateModified,
                   'pdf' AS fmt, 'en' AS language)) AS documents) AS tender,
    array_prepend(supp_parties, {_BUYER_PARTY_S}) AS parties,
    array(struct(
        concat('award-', {_OK_S}) AS award_id,
        {_AWARD_STATUS} AS astatus,
        {_sdate(10)} AS adate,
        {_sdate(12)} AS datePublished,
        o_totalprice AS amount,
        'GBP' AS currency,
        {_sdate(40)} AS contract_startDate,
        {_sdate(400)} AS contract_endDate,
        transform(supp_parties, s -> struct(s.id AS id, s.name AS name))
            AS suppliers,
        struct(concat('http://a/', {_OK_S}) AS url,
               'Award notice' AS description,
               {_sdate(15)} AS datePublished,
               'pdf' AS fmt, 'en' AS language) AS notice,
        array(
            struct(concat('ad1-', {_OK_S}) AS doc_id,
                   'awardNotice' AS documentType,
                   'Award notice doc' AS description,
                   concat('http://ad/', {_OK_S}) AS url,
                   {_sdate(15)} AS datePublished, {_sdate(16)} AS dateModified,
                   'pdf' AS fmt, 'en' AS language),
            struct(concat('ad2-', {_OK_S}) AS doc_id,
                   'contractSigned' AS documentType,
                   'Signed contract' AS description,
                   concat('http://ac/', {_OK_S}) AS url,
                   {_sdate(45)} AS datePublished, {_sdate(46)} AS dateModified,
                   'pdf' AS fmt, 'en' AS language)) AS documents)) AS awards
    ) AS release"""

_OK_D = "CAST(o_orderkey AS STRING)"

_RELEASE_D = f"""struct_pack(
    csv_file := 'notices-' || {_ddate(0)} || '.csv',
    row_index := CAST(o_orderkey % 1000 AS BIGINT),
    status := 'ok',
    uri := 'https://contracts.example/notice/' || {_OK_D},
    publishedDate := {_ddate(0)} || 'T00:00:00Z',
    ocid := 'ocds-' || {_OK_D},
    published := o_orderdate,
    release_id := 'ocds-' || {_OK_D} || '-01',
    release_title := 'Procurement notice ' || {_OK_D},
    release_date := {_ddate(0)},
    release_language := 'en',
    tags := ['planning', 'tender'],
    initiationType := 'tender',
    planning := struct_pack(
        milestones := [
            struct_pack(id := 'pm1-' || {_OK_D}, title := 'Market engagement',
                        mtype := 'engagement', dueDate := {_ddate(5)}),
            struct_pack(id := 'pm2-' || {_OK_D}, title := 'Publication',
                        mtype := 'publication', dueDate := {_ddate(8)})],
        documents := [
            struct_pack(doc_id := 'pd1-' || {_OK_D},
                        documentType := 'procurementPlan',
                        description := 'Procurement plan',
                        url := 'http://p/' || {_OK_D},
                        datePublished := {_ddate(1)},
                        fmt := 'html', language := 'en')]),
    publisher := struct_pack(name := 'UK Contracts Finder', scheme := 'GB-GOV',
                             uid := '12345',
                             uri := 'https://www.contractsfinder.service.gov.uk'),
    version := '1.1',
    extensions := ['https://ext.example/lots', 'https://ext.example/suitability'],
    license := 'https://www.nationalarchives.gov.uk/doc/open-government-licence/version/3/',
    publicationPolicy := 'https://contracts.example/policy',
    buyer := struct_pack(id := o_custkey, name := c_name),
    tender := struct_pack(
        id := 't-' || {_OK_D},
        title := 'Tender for order ' || {_OK_D},
        description := 'Priority ' || o_orderpriority || ' order for ' || c_mktsegment,
        status := o_orderstatus,
        mainProcurementCategory := {_MAIN_CATEGORY},
        amount := o_totalprice,
        currency := 'GBP',
        minValue_amount := o_totalprice * 0.5,
        minValue_currency := 'GBP',
        procurementMethod := {_PROC_METHOD},
        procurementMethodDetails := o_orderpriority,
        suitability_sme := CAST(o_orderkey % 2 AS BIGINT),
        suitability_vcse := CAST(CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END
                                 AS BIGINT),
        datePublished := {_ddate(0)},
        endDate := {_ddate(30)},
        contract_startDate := {_ddate(40)},
        contract_endDate := {_ddate(400)},
        items := items,
        documents := [
            struct_pack(doc_id := 'd1-' || {_OK_D},
                        documentType := 'tenderNotice',
                        description := 'Published tender notice',
                        url := 'http://n/' || {_OK_D},
                        datePublished := {_ddate(2)}, dateModified := {_ddate(3)},
                        fmt := 'html', language := 'en'),
            struct_pack(doc_id := 'd2-' || {_OK_D},
                        documentType := 'awardNotice',
                        description := 'Published award notice',
                        url := 'http://a/' || {_OK_D},
                        datePublished := {_ddate(15)}, dateModified := {_ddate(16)},
                        fmt := 'pdf', language := 'en')]),
    parties := list_prepend({_BUYER_PARTY_D}, supp_parties),
    awards := [struct_pack(
        award_id := 'award-' || {_OK_D},
        astatus := {_AWARD_STATUS},
        adate := {_ddate(10)},
        datePublished := {_ddate(12)},
        amount := o_totalprice,
        currency := 'GBP',
        contract_startDate := {_ddate(40)},
        contract_endDate := {_ddate(400)},
        suppliers := list_transform(supp_parties,
                                    s -> struct_pack(id := s.id, name := s.name)),
        notice := struct_pack(url := 'http://a/' || {_OK_D},
                              description := 'Award notice',
                              datePublished := {_ddate(15)},
                              fmt := 'pdf', language := 'en'),
        documents := [
            struct_pack(doc_id := 'ad1-' || {_OK_D},
                        documentType := 'awardNotice',
                        description := 'Award notice doc',
                        url := 'http://ad/' || {_OK_D},
                        datePublished := {_ddate(15)}, dateModified := {_ddate(16)},
                        fmt := 'pdf', language := 'en'),
            struct_pack(doc_id := 'ad2-' || {_OK_D},
                        documentType := 'contractSigned',
                        description := 'Signed contract',
                        url := 'http://ac/' || {_OK_D},
                        datePublished := {_ddate(45)}, dateModified := {_ddate(46)},
                        fmt := 'pdf', language := 'en')])]
    ) AS release"""

_ORACLE = f"""
    WITH li_g AS (
        SELECT l_orderkey,
               list(struct_pack(item_id := l_linenumber, part := l_partkey,
                                qty := l_quantity,
                                cls := struct_pack(
                                    scheme := 'CPV',
                                    id := {_CPV_ID_S},
                                    description := 'CPV ' || {_CPV_ID_S}),
                                addrs := [struct_pack(
                                    postalCode := 'PC' || CAST(l_linenumber AS STRING),
                                    region := {_REGION_CASE},
                                    countryName := 'United Kingdom')])
                    ORDER BY l_linenumber, l_partkey, l_quantity) AS items,
               {_SUPPLIER_PARTY_D} AS supp_parties
        FROM lineitem GROUP BY l_orderkey),
    rel AS (
        SELECT {_RELEASE_D}
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN li_g ON o_orderkey = l_orderkey)
    SELECT
        {", ".join(f'{p.d} AS "{alias}"' for alias, p in _FLAT)}
    FROM rel
"""


@register(
    name="ocds_flatten_wide",
    survey="P2 J1 J2 J3 F10 F12 F20 F17 F18 F19 F21 A1 A2 A5 O3",
    doc=f"Flagship wide flatten: nested release struct -> {N_FLAT_COLUMNS} "
    "flat columns in one Project — the full column contract of ref "
    "2a:494-643 (bookkeeping, identification, planning, publisher, tender, "
    "value, CPV, tender documents, geography, timing, method/SME, buyer, "
    "supplier parties, links, award block). Exercises keyed first-match, "
    "role filter, document-type first-match, code->category mapping, month "
    "names, pipe_join/_join_unique folds, head/rest CPV split, two-level "
    "address flatten, head plucks. Spark program and DuckDB oracle are "
    "generated from one paired-expression table so they cannot drift.",
    oracle=_ORACLE,
)
def ocds_flatten_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the fixture lineitem is one row group; distribute it so the
    # partial collect_list aggregation runs on all cores
    li = spread(load(spark, sf_dir, "lineitem"))
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")

    # r13 (guide §2.3 shuffle fewer bytes): collect only the three numeric
    # lineitem fields through the aggregation shuffle and build the
    # string-heavy cls/addrs structs AFTER the aggregate with one
    # transform (the old form constructed and shuffled ~100 bytes of CPV/
    # address strings per lineitem and sorted the full structs).
    # l_linenumber is unique within an order, so sorting the slim triples
    # orders identically to sorting the full structs.
    li_g = (
        li.groupBy("l_orderkey")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("l_linenumber").alias("item_id"),
                        F.col("l_partkey").alias("part"),
                        F.col("l_quantity").alias("qty"),
                    )
                )
            ).alias("items0"),
            F.expr(_SUPPLIER_PARTY_S).alias("supp_parties"),
        )
        .withColumn(
            "items",
            F.expr(
                f"""transform(items0, t -> struct(
                    t.item_id AS item_id, t.part AS part, t.qty AS qty,
                    struct('CPV' AS scheme,
                           {_CPV_ID_T} AS id,
                           concat('CPV ', {_CPV_ID_T}) AS description) AS cls,
                    array(struct(
                        concat('PC', CAST(t.item_id AS STRING)) AS postalCode,
                        {_REGION_CASE_T} AS region,
                        'United Kingdom' AS countryName)) AS addrs))"""
            ),
        )
        .drop("items0")
    )

    # r13 (guide §7.2 duplicated subtrees): the flatten re-evaluated the
    # shared array probes per output column — the supplier role filter 17x,
    # the buyer first-match 14x, the two-level address flatten 8x, the
    # first-award pluck 23x. Hoist each ONCE into the barrier projection
    # (nondeterministic, so CollapseProject can neither inline them into
    # the 144 expressions below nor merge the release build into this
    # projection) and rewrite the flatten expressions to reference the
    # hoisted columns. Pure plan restructuring: same expressions, same
    # results, each shared probe evaluated once per row.
    _HOIST: list[tuple[str, str]] = [
        (BP.s, "_bp"),
        (TN.s, "_tn"),
        (AN.s, "_an"),
        (ITEM1.s, "_item1"),
        (ADDRS.s, "_addrs"),
        (SUP.s, "_sup"),
        (AW.s, "_aw"),
    ]

    rel = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(li_g, orders.o_orderkey == li_g.l_orderkey)
        .selectExpr(_RELEASE_S)
        # barrier: without it CollapseProject inlines the whole release
        # struct construction into EVERY one of the 144 flatten
        # expressions below (nondeterministic projections don't collapse;
        # measured ~2x on this query's wall time)
        .select(
            "release",
            *[F.expr(src).alias(alias) for src, alias in _HOIST],
            F.monotonically_increasing_id().alias("_barrier"),
        )
    )

    hit: set[str] = set()

    def _sub(expr: str) -> str:
        for src, alias in _HOIST:
            if src in expr:
                hit.add(alias)
                expr = expr.replace(src, alias)
        return expr

    flat = [f"{_sub(p.s)} AS {alias}" for alias, p in _FLAT]
    # A hoist whose source text no longer appears in any flatten expression
    # (formatting drift in _FLAT) would silently fall back to per-column
    # re-evaluation; fail at construction instead.
    missed = [alias for _, alias in _HOIST if alias not in hit]
    if missed:
        raise ValueError(f"ocds_flatten_wide: hoisted probes unused: {missed}")
    return rel.selectExpr(*flat)
