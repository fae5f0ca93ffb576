"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``seed``: the same seed gives
byte-identical parquet files, another seed gives other rows of the same
sizes. The engine never sees the seed, only the files.

Two corpora:

- ``write_tpch``: the star schema the registry queries read (region,
  nation, customer, supplier, part, orders, lineitem), with the column
  names and types of the engine's test tables. Row counts scale with
  ``customers``; keys are dense and every foreign key resolves.
- ``write_pipeline``: the paper's pipeline inputs: an org-chart file,
  org landing pages (HTML with leader links), leader landing pages
  (HTML with an infobox and about 8 KB of body text) and career texts.
  It also writes the ground truth the checks compare against: the kept
  orgs, the leaders per org, every career event with its validity, and
  each leader's native place.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_URL = "https://example.org"


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _days(rng: np.random.Generator, n: int, lo: dt.date, hi: dt.date) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "D")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


# ---------------------------------------------------------------------------
# Star schema
# ---------------------------------------------------------------------------

_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_ADJ = ["red", "blue", "hot", "cold", "large", "small", "old", "new", "green", "dark"]
_NOUN = ["plate", "bolt", "ring", "rod", "gear", "anvil", "widget", "valve", "spring", "cog"]
_PART_NAMES = np.array([f"{a} {n}" for a in _ADJ for n in _NOUN])
_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_STATUS = np.array(["F", "O", "P"])
_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def write_tpch(out_dir: str, seed: int, *, customers: int) -> dict[str, int]:
    """Write the seven star-schema tables; returns their row counts.

    Sizes follow the engine's test tables: per customer 1/15 supplier,
    4/3 parts, 10 orders and about 40 line items."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_c = customers
    n_s = max(25, customers // 15)
    n_p = customers * 4 // 3
    n_o = customers * 10

    _write(
        pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(_REGIONS),
        }),
        f"{out_dir}/region.parquet",
    )
    _write(
        pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        f"{out_dir}/nation.parquet",
    )
    ck = np.arange(n_c, dtype=np.int64)
    _write(
        pa.table({
            "c_custkey": ck,
            "c_name": pa.array([f"Customer#{i:09d}" for i in ck]),
            "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
            "c_mktsegment": _SEGMENTS[rng.integers(0, len(_SEGMENTS), n_c)],
        }),
        f"{out_dir}/customer.parquet",
    )
    sk = np.arange(n_s, dtype=np.int64)
    _write(
        pa.table({
            "s_suppkey": sk,
            "s_name": pa.array([f"Supplier#{i:09d}" for i in sk]),
            "s_nationkey": rng.integers(0, 25, n_s).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_s), 2),
        }),
        f"{out_dir}/supplier.parquet",
    )
    pk = np.arange(n_p, dtype=np.int64)
    _write(
        pa.table({
            "p_partkey": pk,
            "p_name": _PART_NAMES[rng.integers(0, len(_PART_NAMES), n_p)],
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_p)]),
            "p_type": _TYPES[rng.integers(0, len(_TYPES), n_p)],
            "p_size": rng.integers(1, 51, n_p).astype(np.int32),
            "p_retailprice": np.round(900.0 + pk * 0.1, 2),
        }),
        f"{out_dir}/part.parquet",
    )
    ok = np.arange(n_o, dtype=np.int64)
    # Every customer orders at least once. The first 5% order exactly once,
    # one line item: they are the co-purchase graph's degree-1 vertices, so
    # every seed's k-core peel removes them in its first round and stops at
    # the second. Without them a rare seed has a lone degree-1 vertex and
    # runs one peel round more than the others.
    n_once = n_c // 20
    o_cust = np.concatenate([ck, rng.integers(n_once, n_c, n_o - n_c)])
    rng.shuffle(o_cust)
    o_date = _days(rng, n_o, dt.date(1995, 1, 1), dt.date(2001, 8, 1))
    _write(
        pa.table({
            "o_orderkey": ok,
            "o_custkey": o_cust.astype(np.int64),
            "o_orderstatus": _STATUS[rng.integers(0, 3, n_o)],
            "o_totalprice": np.round(rng.uniform(1000.0, 400000.0, n_o), 2),
            "o_orderdate": pa.array(o_date.astype("datetime64[us]")),
            "o_orderpriority": _PRIORITY[rng.integers(0, 5, n_o)],
        }),
        f"{out_dir}/orders.parquet",
    )
    lines = np.where(o_cust < n_once, 1, rng.integers(1, 8, n_o))
    l_order = np.repeat(ok, lines)
    n_l = len(l_order)
    l_num = (np.arange(n_l) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    ship = np.repeat(o_date, lines) + rng.integers(1, 122, n_l).astype("timedelta64[D]")
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    _write(
        pa.table({
            "l_orderkey": l_order,
            "l_partkey": rng.integers(0, n_p, n_l).astype(np.int64),
            "l_suppkey": rng.integers(0, n_s, n_l).astype(np.int64),
            "l_linenumber": l_num,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_l), 2),
            "l_discount": np.round(rng.integers(0, 11, n_l) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_l) / 100.0, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_l)],
            "l_shipdate": pa.array(ship.astype("datetime64[us]")),
        }),
        f"{out_dir}/lineitem.parquet",
    )
    return {"customer": n_c, "supplier": n_s, "part": n_p, "orders": n_o, "lineitem": n_l}


# ---------------------------------------------------------------------------
# Pipeline corpus
# ---------------------------------------------------------------------------

# Two-character given names from these characters, after a one-character
# surname, give three-character names: short enough for the engine's
# person-name rule (at most 4 characters) and clear of its blacklist.
_SURNAMES = list("王李张刘陈杨黄赵吴周徐孙马朱胡郭何高林罗郑梁谢宋唐许韩冯邓曹彭曾")
_GIVEN = list("伟芳娜敏静丽强磊军洋勇艳杰涛明超秀霞平刚桂英华玉兰萍红鹏飞宇浩然")
# Names under the leader heading that the engine must reject.
_NOT_PERSONS = ["秘书长", "党组书记", "办事机构", "纪检监察"]
_PROVINCES = list("鲁豫冀晋辽吉黑苏浙皖闽赣湘鄂粤桂琼川贵云陕甘青")
_CITIES = ["东城", "西城", "南关", "北山", "中和", "新华", "长安", "永安"]
_SCHOOLS = [f"{p}{k}" for p in "华东西南北中" for k in ("大学", "师范大学", "工业学院", "农业大学")]
_BUREAUS = ["财政", "教育", "交通", "水利", "商务", "民政", "司法", "审计", "统计", "环保"]
# Body paragraphs that pad each leader page to about 8 KB.
_FILLER_PARAGRAPHS = 40
_FILLER = (
    "该同志长期从事经济管理和行政领导工作，注重调查研究，推动了地方产业结构调整，"
    "在基础设施建设、公共服务和生态保护等方面做了大量工作。"
)


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _ym(y: int, m: int | None) -> str:
    return f"{y}" if m is None else f"{y}.{m:02d}"


def _career(rng: np.random.Generator, places: list[str]) -> tuple[list[str], list[dict]]:
    """Career lines plus the events the rule backend must read from them.

    Lines are ``YYYY[.MM]-YYYY[.MM] text`` or ``YYYY.MM-今 text``; one line
    in about twenty carries month 13, which the event validator rejects."""
    lines, events = [], []
    year = int(rng.integers(1975, 1992))
    for k in range(int(rng.integers(3, 7))):
        study = k == 0 or (k == 1 and rng.random() < 0.5)
        sy, span = year, int(rng.integers(1, 6))
        ey = sy + span
        sm = None if rng.random() < 0.15 else int(rng.integers(1, 13))
        em = None if rng.random() < 0.15 else int(rng.integers(1, 13))
        if rng.random() < 0.05:
            sm = 13
        last = k > 0 and rng.random() < 0.08
        where = (
            _SCHOOLS[int(rng.integers(0, len(_SCHOOLS)))] + "学习"
            if study
            else places[int(rng.integers(0, len(places)))] + "工作"
        )
        if last:
            lines.append(f"{_ym(sy, sm or 1)}-今 {where}")
            ev = dict(sy=sy, sm=sm or 1, ey=None, em=None)
        else:
            lines.append(f"{_ym(sy, sm)}-{_ym(ey, em)} {where}")
            ev = dict(sy=sy, sm=sm, ey=ey, em=em)
        ev.update(
            event_type="study" if study else "work",
            school=where if study else None,
            place=None if study else where,
            valid=ev["sm"] is None or ev["sm"] <= 12,
        )
        events.append(ev)
        year = ey
        if last:
            break
    return lines, events


def _leader_page(name: str, place: str, lines: list[str]) -> str:
    body = "".join(f"<p>{ln}</p>" for ln in lines)
    extra = f"<p>{_FILLER}</p>" * _FILLER_PARAGRAPHS
    return (
        f"<html><head><title>{name}_百度百科</title>"
        f'<meta name="description" content="{name}，现任领导干部。">'
        f'<meta itemprop="dateUpdate" content="2024-01-01 00:00:00"></head><body>'
        f"<p>{name}，男，汉族，{place}人，研究生学历。</p>"
        f"<dl><dt>中文名</dt><dd>{name}</dd><dt>民族</dt><dd>汉族</dd>"
        f"<dt>籍贯</dt><dd>{place}</dd><dt>出生日期</dt><dd>1965年3月</dd>"
        f"<dt>政治面貌</dt><dd>中共党员</dd></dl>"
        f"<h2>人物履历</h2>{body}<h2>主要成就</h2>{extra}</body></html>"
    )


def _org_page(dept: str, links: list[tuple[str, str]], others: list[str]) -> str:
    leaders = "".join(f'<li><a href="{href}">{text}</a></li>' for text, href in links)
    related = "".join(f'<li><a href="/org/{o}">{o}</a></li>' for o in others)
    return (
        f"<html><head><title>{dept}_百度百科</title>"
        f'<meta name="description" content="{dept}是政府组成部门。"></head><body>'
        f"<p>{dept}负责本行政区域内的相关工作。</p>"
        f"<h2>主要职责</h2><p>{_FILLER}</p>"
        f"<h2>机构领导</h2><ul>{leaders}</ul>"
        f"<h2>相关机构</h2><ul>{related}</ul></body></html>"
    )


def write_pipeline(out_dir: str, seed: int, *, orgs: int) -> dict[str, int]:
    """Write the pipeline inputs and their ground truth; returns counts.

    Inputs: ``org_chart`` (row_seq, parent_dept, dept, url), ``org_pages``
    and ``leader_pages`` (url, remark), ``careers`` (url, career_text).
    Ground truth: ``gt_orgs`` (dept, parent_dept, url), ``gt_leaders``
    (uuid, org_url, name), ``gt_events`` (uuid, event_type, school, place,
    sy, sm, ey, em, valid) and ``gt_native`` (uuid, native_place)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    parents = [f"{p}省人民政府" for p in _PROVINCES]
    places = [f"{p}省{b}厅" for p in _PROVINCES for b in _BUREAUS]

    chart, gt_orgs = [], []
    parent = None
    for i in range(orgs):
        new_parent = i == 0 or rng.random() < 0.1
        if new_parent:
            parent = parents[int(rng.integers(0, len(parents)))]
        dept = f"{_BUREAUS[i % len(_BUREAUS)]}局{i:05d}"
        url = f"{BASE_URL}/org/{i}"
        # a continued group leaves the parent cell empty ("" or "/"):
        # ingest forward-fills it from the row above
        cell = parent if new_parent else ("" if rng.random() < 0.5 else "/")
        chart.append((dept, cell, url))
        gt_orgs.append((dept, parent, url))
        if rng.random() < 0.04:
            # the same org listed again later under the same parent:
            # ingest keeps the first row (first-wins dedup)
            chart.append((dept, parent, f"{BASE_URL}/org/{i}-dup"))
    n_rows = len(chart)
    _write(
        pa.table({
            "row_seq": pa.array(np.arange(n_rows, dtype=np.int32)),
            "parent_dept": pa.array([c[1] for c in chart]),
            "dept": pa.array([c[0] for c in chart]),
            "url": pa.array([c[2] for c in chart]),
        }),
        f"{out_dir}/org_chart.parquet",
    )

    org_urls, org_html = [], []
    ld_url, ld_html, ld_text = [], [], []
    gt_leaders, gt_events, gt_native = [], [], []
    pid = 0
    # 3 to 9 leaders per org, dealt from the same multiset for every seed,
    # so the corpus size does not change with the seed
    per_org = rng.permutation(np.resize(np.arange(3, 10), len(gt_orgs)))
    for (dept, _, url), n_leaders in zip(gt_orgs, per_org):
        links = []
        for _ in range(int(n_leaders)):
            name = (
                _SURNAMES[int(rng.integers(0, len(_SURNAMES)))]
                + _GIVEN[int(rng.integers(0, len(_GIVEN)))]
                + _GIVEN[int(rng.integers(0, len(_GIVEN)))]
            )
            href = f"/item/{name}/{pid}"
            pid += 1
            # some anchors carry a bracketed title, which name cleaning drops
            text = f"{name}（厅长）" if rng.random() < 0.2 else name
            links.append((text, href))
            lurl = BASE_URL + href
            uuid = _md5(lurl)
            place = _PROVINCES[int(rng.integers(0, len(_PROVINCES)))] + "省" + _CITIES[
                int(rng.integers(0, len(_CITIES)))
            ]
            lines, events = _career(rng, places)
            gt_leaders.append((uuid, url, name))
            gt_native.append((uuid, place))
            for ev in events:
                gt_events.append((uuid, ev))
            ld_url.append(lurl)
            ld_html.append(_leader_page(name, place, lines))
            ld_text.append("\n".join(lines))
        if rng.random() < 0.3:
            bad = _NOT_PERSONS[int(rng.integers(0, len(_NOT_PERSONS)))]
            links.insert(int(rng.integers(0, len(links) + 1)), (bad, f"/item/{bad}"))
        others = [gt_orgs[int(rng.integers(0, len(gt_orgs)))][0] for _ in range(3)]
        org_urls.append(url)
        org_html.append(_org_page(dept, links, others))

    _write(pa.table({"url": org_urls, "remark": org_html}), f"{out_dir}/org_pages.parquet")
    _write(pa.table({"url": ld_url, "remark": ld_html}), f"{out_dir}/leader_pages.parquet")
    _write(pa.table({"url": ld_url, "career_text": ld_text}), f"{out_dir}/careers.parquet")
    _write(
        pa.table({
            "dept": [o[0] for o in gt_orgs],
            "parent_dept": [o[1] for o in gt_orgs],
            "url": [o[2] for o in gt_orgs],
        }),
        f"{out_dir}/gt_orgs.parquet",
    )
    _write(
        pa.table({
            "uuid": [x[0] for x in gt_leaders],
            "org_url": [x[1] for x in gt_leaders],
            "name": [x[2] for x in gt_leaders],
        }),
        f"{out_dir}/gt_leaders.parquet",
    )
    i32 = pa.int32()
    _write(
        pa.table({
            "uuid": [u for u, _ in gt_events],
            "event_type": [e["event_type"] for _, e in gt_events],
            "school": [e["school"] for _, e in gt_events],
            "place": [e["place"] for _, e in gt_events],
            "sy": pa.array([e["sy"] for _, e in gt_events], i32),
            "sm": pa.array([e["sm"] for _, e in gt_events], i32),
            "ey": pa.array([e["ey"] for _, e in gt_events], i32),
            "em": pa.array([e["em"] for _, e in gt_events], i32),
            "valid": [e["valid"] for _, e in gt_events],
        }),
        f"{out_dir}/gt_events.parquet",
    )
    _write(
        pa.table({
            "uuid": [x[0] for x in gt_native],
            "native_place": [x[1] for x in gt_native],
        }),
        f"{out_dir}/gt_native.parquet",
    )
    return {
        "org_rows": n_rows,
        "orgs": len(gt_orgs),
        "leaders": len(gt_leaders),
        "events": len(gt_events),
        "leader_page_bytes": sum(len(h.encode()) for h in ld_html),
    }
