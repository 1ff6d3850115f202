"""Seeded TPC-H-shaped inputs for the ``vault_incremental`` workload, and
the closed-form expectation of what the vault must hold after loading them.

Everything here is pure Python/NumPy: the program under test only ever
sees the parquet files :func:`write_flow` leaves on disk. Sizes are fixed
by ``n_customers`` in TPC-H proportions (10 orders per customer, 1-7 lines
per order); the seed changes the values, so two seeds cost about the same.

Change data follows the TPC-H specification's own date rules (clause
4.2.3): a line ships 1-121 days after its order date and is received 1-30
days after that; its status is ``O`` until it ships, its return flag ``N``
until it is received (then ``R`` or ``A``); an order is ``O`` while no line
has shipped, ``F`` once all have, ``P`` in between. A CDC batch advances
the current date, so it carries the span's new orders and every earlier
order and line whose status changed meanwhile.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
DAY0 = dt.date(1992, 1, 1)
#: order dates: 1992-01-01 .. 1998-12-31 minus 151 days (TPC-H 4.2.3)
N_DAYS = 2406
SHIP_DAYS = 121
RECEIPT_DAYS = 30
LOAD_TS0 = dt.datetime(2025, 1, 1)

#: incremental workload shape (recorded in BENCHMARK.json's workload why)
HISTORY_SHARE = 0.80     # orders (by order date) bootstrapped before batch 1
#: order-date span of one batch, as a share of all order dates: its new
#: lines plus the earlier lines that ship or are received meanwhile come
#: to ~1.5 % of all lineitems, so the history is ~50x a batch
BATCH_SHARE = 0.005
#: new and deleted customer keys per snapshot, each at TPC-H's refresh
#: rate: RF1 inserts and RF2 deletes SF x 1 500 orders, 0.1 % of ORDERS
REFRESH_SHARE = 0.001

# ---------------------------------------------------------------------------
# vault model (metadata CSVs fed to init_vault)
# ---------------------------------------------------------------------------

TABLES_CSV = """base_name,rel_type,column_name,column_type,column_position,mapping
customer,stg,c_custkey,BIGINT,1,c
customer,stg,c_name,VARCHAR,2,c
customer,stg,c_nationkey,INTEGER,3,c
customer,stg,c_acctbal,BIGINT,4,c
customer,stg,c_mktsegment,VARCHAR,5,c
customer,hub,custkey,BIGINT,1,bk
customer_details,hsat,customer,,0,hk
customer_details,hsat,name,VARCHAR,1,f
customer_details,hsat,nation,INTEGER,2,f
customer_details,hsat,acctbal,BIGINT,3,f
customer_details,hsat,segment,VARCHAR,4,f
orders,stg,o_orderkey,BIGINT,1,c
orders,stg,o_custkey,BIGINT,2,c
orders,stg,o_orderstatus,VARCHAR,3,c
orders,stg,o_totalprice,BIGINT,4,c
orders,stg,o_orderdate,DATE,5,c
orders,stg,o_orderpriority,VARCHAR,6,c
order,hub,orderkey,BIGINT,1,bk
order_customer,link,order,,1,ll
order_customer,link,customer,,2,ll
order_details,hsat,order,,0,hk
order_details,hsat,status,VARCHAR,1,f
order_details,hsat,totalprice,BIGINT,2,f
order_terms,hsat,order,,0,hk
order_terms,hsat,orderdate,DATE,1,f
order_terms,hsat,priority,VARCHAR,2,f
lineitem,stg,l_orderkey,BIGINT,1,c
lineitem,stg,l_partkey,BIGINT,2,c
lineitem,stg,l_suppkey,BIGINT,3,c
lineitem,stg,l_linenumber,INTEGER,4,c
lineitem,stg,l_quantity,INTEGER,5,c
lineitem,stg,l_extendedprice,BIGINT,6,c
lineitem,stg,l_returnflag,VARCHAR,7,c
lineitem,stg,l_linestatus,VARCHAR,8,c
lineitem,stg,l_shipdate,DATE,9,c
part,hub,partkey,BIGINT,1,bk
supplier,hub,suppkey,BIGINT,1,bk
order_part_supplier,link,order,,1,ll
order_part_supplier,link,part,,2,ll
order_part_supplier,link,supplier,,3,ll
order_part_supplier,link,linenumber,INTEGER,4,dk
lineitem_details,lsat,order_part_supplier,,0,hk
lineitem_details,lsat,quantity,INTEGER,1,f
lineitem_details,lsat,extendedprice,BIGINT,2,f
lineitem_details,lsat,returnflag,VARCHAR,3,f
lineitem_details,lsat,linestatus,VARCHAR,4,f
lineitem_details,lsat,shipdate,DATE,5,f
"""

TRANSITIONS_CSV = """source_table,source_field,target_table,target_field,group_name,position,raw,transformation,transfer_type
customer,c_custkey,hub_customer,custkey_bk,customer,1,false,,bk
customer,customer_hk,hsat_customer_details,customer,customer_details,0,false,,sat_full
customer,c_name,hsat_customer_details,name,customer_details,1,false,,f
customer,c_nationkey,hsat_customer_details,nation,customer_details,2,false,,f
customer,c_acctbal,hsat_customer_details,acctbal,customer_details,3,false,,f
customer,c_mktsegment,hsat_customer_details,segment,customer_details,4,false,,f
orders,o_orderkey,hub_order,orderkey_bk,order,1,false,,bk
orders,o_custkey,hub_customer,custkey_bk,customer,1,false,,bk
orders,order,link_order_customer,order_hk,oc,1,false,,ll
orders,customer,link_order_customer,customer_hk,oc,2,false,,ll
orders,order_hk,hsat_order_details,order,order_details,0,false,,sat_delta
orders,o_orderstatus,hsat_order_details,status,order_details,1,false,,f
orders,o_totalprice,hsat_order_details,totalprice,order_details,2,false,,f
orders,order_hk,hsat_order_terms,order,order_terms,0,false,,sat_delta
orders,o_orderdate,hsat_order_terms,orderdate,order_terms,1,false,,f
orders,o_orderpriority,hsat_order_terms,priority,order_terms,2,false,,f
lineitem,l_orderkey,hub_order,orderkey_bk,order,1,false,,bk
lineitem,l_partkey,hub_part,partkey_bk,part,1,false,,bk
lineitem,l_suppkey,hub_supplier,suppkey_bk,supplier,1,false,,bk
lineitem,order,link_order_part_supplier,order_hk,ops,1,false,,ll
lineitem,part,link_order_part_supplier,part_hk,ops,2,false,,ll
lineitem,supplier,link_order_part_supplier,supplier_hk,ops,3,false,,ll
lineitem,l_linenumber,link_order_part_supplier,linenumber_dk,ops,4,false,,dk
lineitem,ops_hk,lsat_lineitem_details,order_part_supplier,ops_d,0,false,,sat_delta
lineitem,l_quantity,lsat_lineitem_details,quantity,ops_d,1,false,,f
lineitem,l_extendedprice,lsat_lineitem_details,extendedprice,ops_d,2,false,,f
lineitem,l_returnflag,lsat_lineitem_details,returnflag,ops_d,3,false,,f
lineitem,l_linestatus,lsat_lineitem_details,linestatus,ops_d,4,false,,f
lineitem,l_shipdate,lsat_lineitem_details,shipdate,ops_d,5,false,,f
"""

HUBS = ("hub_customer", "hub_order", "hub_part", "hub_supplier")
LINKS = ("link_order_customer", "link_order_part_supplier")
#: satellite -> (hash-key column, payload columns in hash-diff order)
SATS = {
    "hsat_customer_details": ("customer_hk", ("name", "nation", "acctbal", "segment")),
    "hsat_order_details": ("order_hk", ("status", "totalprice")),
    "hsat_order_terms": ("order_hk", ("orderdate", "priority")),
    "lsat_lineitem_details": (
        "order_part_supplier_hk",
        ("quantity", "extendedprice", "returnflag", "linestatus", "shipdate"),
    ),
}
#: staging table -> the hubs / links / sats one of its flows writes
FLOW_TARGETS = {
    "customer": (("hub_customer",), (), ("hsat_customer_details",)),
    "orders": (
        ("hub_order", "hub_customer"),
        ("link_order_customer",),
        ("hsat_order_details", "hsat_order_terms"),
    ),
    "lineitem": (
        ("hub_order", "hub_part", "hub_supplier"),
        ("link_order_part_supplier",),
        ("lsat_lineitem_details",),
    ),
}

CUSTOMER_SCHEMA = pa.schema([
    ("c_custkey", pa.int64()), ("c_name", pa.string()),
    ("c_nationkey", pa.int32()), ("c_acctbal", pa.int64()),
    ("c_mktsegment", pa.string()),
])
ORDERS_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()), ("o_totalprice", pa.int64()),
    ("o_orderdate", pa.date32()), ("o_orderpriority", pa.string()),
])
LINEITEM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
    ("l_quantity", pa.int32()), ("l_extendedprice", pa.int64()),
    ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
    ("l_shipdate", pa.date32()),
])
SCHEMAS = {"customer": CUSTOMER_SCHEMA, "orders": ORDERS_SCHEMA,
           "lineitem": LINEITEM_SCHEMA}


def dv_hash(*parts) -> str:
    """The vault's sha1 hash key / hash diff, computed the way the engine
    does: sha1(upper(concat_ws('||', cast(part as string)...)))."""
    return hashlib.sha1("||".join(str(p) for p in parts).upper().encode()).hexdigest()


# ---------------------------------------------------------------------------
# base tables
# ---------------------------------------------------------------------------


@dataclass
class Tables:
    """Customer rows (tuples in CUSTOMER_SCHEMA order), and per-order and
    per-line columns; order ``i`` has key ``i + 1`` and orders are numbered
    in order-date order, so a date cutoff is a key cutoff."""

    customer: list[tuple]
    o_cust: np.ndarray
    o_day: np.ndarray
    o_prio: np.ndarray
    o_total: np.ndarray
    l_order: np.ndarray      # order index of each line
    l_num: np.ndarray
    l_part: np.ndarray
    l_supp: np.ndarray
    l_qty: np.ndarray
    l_price: np.ndarray
    l_ship: np.ndarray       # ship day
    l_receipt: np.ndarray    # receipt day
    l_returned: np.ndarray   # True: return flag R once received, else A

    def line_state(self, day: int) -> np.ndarray:
        """Per line: 0 not shipped, 1 shipped, 2 received, as of ``day``."""
        return (self.l_ship <= day).astype(np.int8) + (self.l_receipt <= day)

    def order_status(self, day: int) -> np.ndarray:
        """Per order: 0 ``O``, 1 ``P``, 2 ``F``, as of ``day``."""
        n = len(self.o_day)
        shipped = np.bincount(self.l_order, weights=self.l_ship <= day, minlength=n)
        lines = np.bincount(self.l_order, minlength=n)
        return np.where(shipped == 0, 0, np.where(shipped == lines, 2, 1))

    def order_rows(self, idx, day: int) -> list[tuple]:
        status = self.order_status(day)
        return [(int(o) + 1, int(self.o_cust[o]), "OPF"[status[o]], int(self.o_total[o]),
                 _date(self.o_day[o]), PRIORITIES[self.o_prio[o]]) for o in idx]

    def line_rows(self, idx, day: int) -> list[tuple]:
        state = self.line_state(day)
        return [(int(self.l_order[i]) + 1, int(self.l_part[i]), int(self.l_supp[i]),
                 int(self.l_num[i]), int(self.l_qty[i]), int(self.l_price[i]),
                 "N" if state[i] < 2 else "RA"[0 if self.l_returned[i] else 1],
                 "O" if state[i] == 0 else "F", _date(self.l_ship[i])) for i in idx]


def _date(day: int) -> dt.date:
    return DAY0 + dt.timedelta(days=int(day))


def tpch_tables(seed: int, n_customers: int) -> Tables:
    """TPC-H-shaped customers, orders and lineitems in the specification's
    proportions: parts = 4/3 and suppliers = 1/15 of customers, and only
    customers whose key is not a multiple of 3 place orders."""
    rng = np.random.default_rng(seed)
    c = n_customers
    customer = [
        (k, f"Customer#{k:09d}", int(n), int(b), SEGMENTS[s])
        for k, n, b, s in zip(
            range(1, c + 1), rng.integers(0, 25, c),
            rng.integers(-99_999, 999_999, c), rng.integers(0, 5, c),
        )
    ]
    n_orders = 10 * c
    ordering = np.array([k for k in range(1, c + 1) if k % 3])
    o_cust = rng.choice(ordering, n_orders)
    o_day = np.sort(rng.integers(0, N_DAYS, n_orders))
    n_lines = rng.integers(1, 8, n_orders)
    n_li = int(n_lines.sum())
    l_order = np.repeat(np.arange(n_orders), n_lines)
    l_num = np.arange(n_li) - np.repeat(np.cumsum(n_lines) - n_lines, n_lines) + 1
    l_qty = rng.integers(1, 51, n_li)
    l_price = l_qty * rng.integers(90_000, 200_000, n_li) // 100
    l_ship = o_day[l_order] + rng.integers(1, SHIP_DAYS + 1, n_li)
    o_total = np.zeros(n_orders, dtype=np.int64)
    np.add.at(o_total, l_order, l_price)
    return Tables(
        customer, o_cust, o_day, rng.integers(0, 5, n_orders), o_total,
        l_order, l_num,
        rng.integers(1, max(2, 4 * c // 3) + 1, n_li),
        rng.integers(1, max(2, c // 15) + 1, n_li),
        l_qty, l_price, l_ship,
        l_ship + rng.integers(1, RECEIPT_DAYS + 1, n_li),
        rng.random(n_li) < 0.5,
    )


# ---------------------------------------------------------------------------
# incremental batches
# ---------------------------------------------------------------------------


@dataclass
class Flow:
    """One execute_flow call: a staging source, its rows, the load time."""

    source: str
    rows: list[tuple]
    load_ts: dt.datetime
    path: str = ""
    in_bytes: int = 0

    @property
    def load_dts(self) -> str:
        return self.load_ts.strftime("%Y-%m-%d %H:%M:%S")


def incremental_flows(seed: int, t: Tables,
                      n_batches: int) -> tuple[list[Flow], list[list[Flow]]]:
    """(bootstrap flows, ``n_batches`` batches of three flows each).

    Bootstrap: every customer plus the orders (and their lineitems) placed
    before the HISTORY_SHARE order-date cutoff, as of the day before it.
    Batch b advances the current date by one BATCH_SHARE span and carries a
    full customer snapshot (customers who ordered in the span have their
    balance reduced by the order total; REFRESH_SHARE of the keys are
    deleted and as many are new), the span's orders plus earlier orders
    whose status changed, and the lineitems of the span's orders plus the
    earlier lines whose status or return flag changed.
    """
    rng = np.random.default_rng(seed + 1)
    n_orders = len(t.o_day)
    cut = int(n_orders * HISTORY_SHARE)
    cutoff = int(t.o_day[cut])
    span = max(1, round(BATCH_SHARE * N_DAYS))
    if cutoff + n_batches * span > N_DAYS:
        raise ValueError(f"{n_batches} batches run past the last order date")
    cut = int(np.searchsorted(t.o_day, cutoff))
    customers = {c[0]: c for c in t.customer}
    next_cust = len(t.customer) + 1
    n_refresh = max(1, round(len(t.customer) * REFRESH_SHARE))

    day = cutoff - 1
    boot_lines = np.flatnonzero(t.l_order < cut)
    boot = [
        Flow("customer", list(customers.values()), LOAD_TS0),
        Flow("orders", t.order_rows(range(cut), day), LOAD_TS0),
        Flow("lineitem", t.line_rows(boot_lines, day), LOAD_TS0),
    ]
    batches = []
    lo = cut
    for b in range(n_batches):
        ts = LOAD_TS0 + dt.timedelta(days=b + 1)
        prev, day = day, day + span
        hi = int(np.searchsorted(t.o_day, day, side="right"))
        # customer snapshot: balances of those who ordered, deletes, new keys
        for o in range(lo, hi):
            c = customers.get(int(t.o_cust[o]))
            if c is not None:
                customers[c[0]] = c[:3] + (c[3] - int(t.o_total[o]), c[4])
        for k in rng.choice(sorted(customers), n_refresh, replace=False):
            del customers[int(k)]
        for _ in range(n_refresh):
            customers[next_cust] = (
                next_cust, f"Customer#{next_cust:09d}",
                int(rng.integers(0, 25)), int(rng.integers(-99_999, 999_999)),
                SEGMENTS[int(rng.integers(0, 5))],
            )
            next_cust += 1
        # orders and lines: the span's new ones, and earlier changed ones
        o_changed = np.flatnonzero(t.order_status(day)[:lo] != t.order_status(prev)[:lo])
        l_old = t.l_order < lo
        l_changed = np.flatnonzero(l_old & (t.line_state(day) != t.line_state(prev)))
        l_new = np.flatnonzero((t.l_order >= lo) & (t.l_order < hi))
        batches.append([
            Flow("customer", list(customers.values()), ts),
            Flow("orders", t.order_rows(list(range(lo, hi)) + o_changed.tolist(), day), ts),
            Flow("lineitem", t.line_rows(np.concatenate([l_new, l_changed]), day), ts),
        ])
        lo = hi
    return boot, batches


def write_flow(flow: Flow, path: str) -> None:
    """Write a flow's rows as one parquet file and record path and size."""
    cols = list(zip(*flow.rows)) if flow.rows else [[] for _ in SCHEMAS[flow.source]]
    table = pa.Table.from_arrays(
        [pa.array(list(col), type=f.type) for col, f in zip(cols, SCHEMAS[flow.source])],
        schema=SCHEMAS[flow.source],
    )
    pq.write_table(table, path)
    flow.path = path
    flow.in_bytes = os.path.getsize(path)


def staged_keys(flow: Flow) -> dict[str, int]:
    """Distinct keys a flow stages per hub and link, and rows per sat."""
    r = flow.rows
    if flow.source == "customer":
        return {"hub_customer": len({x[0] for x in r}),
                "hsat_customer_details": len(r)}
    if flow.source == "orders":
        return {"hub_order": len({x[0] for x in r}),
                "hub_customer": len({x[1] for x in r}),
                "link_order_customer": len({(x[0], x[1]) for x in r}),
                "hsat_order_details": len(r), "hsat_order_terms": len(r)}
    return {"hub_order": len({x[0] for x in r}), "hub_part": len({x[1] for x in r}),
            "hub_supplier": len({x[2] for x in r}),
            "link_order_part_supplier": len({x[:4] for x in r}),
            "lsat_lineitem_details": len(r)}


# ---------------------------------------------------------------------------
# closed-form expectation
# ---------------------------------------------------------------------------


@dataclass
class SatState:
    """Per-key latest version of one satellite, plus its version count."""

    latest: dict = field(default_factory=dict)   # hk -> (payload, alive, ts)
    first_ts: dict = field(default_factory=dict)  # hk -> earliest load ts
    versions: int = 0

    def offer(self, hk: str, payload: tuple, ts: dt.datetime) -> None:
        cur = self.latest.get(hk)
        if cur is None or not cur[1] or cur[0] != payload:
            self.latest[hk] = (payload, True, ts)
            self.first_ts.setdefault(hk, ts)
            self.versions += 1

    def retire_absent(self, present: set, ts: dt.datetime) -> None:
        for hk, (payload, alive, _) in list(self.latest.items()):
            if alive and hk not in present:
                self.latest[hk] = (payload, False, ts)
                self.versions += 1


class VaultModel:
    """What the vault must hold after a sequence of flows, computed from the
    generated rows alone (Data Vault insert-only semantics: hubs and links
    keep distinct keys, delta sats add a version per changed payload,
    full-snapshot sats also tombstone keys missing from the snapshot)."""

    def __init__(self) -> None:
        self.hubs: dict[str, set] = {h: set() for h in HUBS}
        self.links: dict[str, set] = {lk: set() for lk in LINKS}
        self.sats: dict[str, SatState] = {s: SatState() for s in SATS}
        self.order_cust: dict[int, int] = {}
        self.order_links: dict[int, set] = {}

    def apply(self, flow: Flow) -> None:
        ts = flow.load_ts
        h, lk, s = self.hubs, self.links, self.sats
        if flow.source == "customer":
            present = set()
            for k, name, nation, bal, seg in flow.rows:
                hk = dv_hash(k)
                h["hub_customer"].add(k)
                s["hsat_customer_details"].offer(hk, (name, nation, bal, seg), ts)
                present.add(hk)
            s["hsat_customer_details"].retire_absent(present, ts)
        elif flow.source == "orders":
            for k, cust, status, total, day, prio in flow.rows:
                hk = dv_hash(k)
                h["hub_order"].add(k)
                h["hub_customer"].add(cust)
                lk["link_order_customer"].add((k, cust))
                self.order_cust[k] = cust
                s["hsat_order_details"].offer(hk, (status, total), ts)
                s["hsat_order_terms"].offer(hk, (day, prio), ts)
        else:
            for o, p, sp, ln, qty, price, rf, ls, ship in flow.rows:
                h["hub_order"].add(o)
                h["hub_part"].add(p)
                h["hub_supplier"].add(sp)
                lk["link_order_part_supplier"].add((o, p, sp, ln))
                self.order_links.setdefault(o, set()).add((o, p, sp, ln))
                s["lsat_lineitem_details"].offer(
                    dv_hash(o, p, sp, ln), (qty, price, rf, ls, ship), ts
                )

    def row_counts(self) -> dict[str, int]:
        out = {t: len(v) for t, v in self.hubs.items()}
        out.update({t: len(v) for t, v in self.links.items()})
        out.update({t: st.versions for t, st in self.sats.items()})
        return out

    def cv_checksums(self) -> dict[str, tuple[int, int]]:
        """sat -> (rows, checksum) of its current view; see
        :func:`cv_checksum_sql` for the engine-side twin."""
        out = {}
        for sat, st in self.sats.items():
            total = 0
            for hk, (payload, alive, ts) in st.latest.items():
                total += _crc_row(hk, ts, not alive, payload)
            out[sat] = (len(st.latest), total)
        return out

    # -- read expectations ------------------------------------------------

    def customer(self, key: int) -> tuple | None:
        cur = self.sats["hsat_customer_details"].latest.get(dv_hash(key))
        return None if cur is None else (cur[0][0], cur[0][2], not cur[1])

    def order(self, key: int) -> tuple | None:
        cur = self.sats["hsat_order_details"].latest.get(dv_hash(key))
        return None if cur is None else cur[0]

    def order_lines(self, key: int) -> list[tuple]:
        lat = self.sats["lsat_lineitem_details"].latest
        return sorted(
            (ln, lat[dv_hash(o, p, s, ln)][0][3])
            for o, p, s, ln in self.order_links.get(key, ())
        )

    def status_totals(self) -> dict[str, tuple[int, int]]:
        out: dict[str, list[int]] = {}
        for (status, total), _alive, _ts in self.sats["hsat_order_details"].latest.values():
            acc = out.setdefault(status, [0, 0])
            acc[0] += 1
            acc[1] += total
        return {k: (v[0], v[1]) for k, v in out.items()}

    def segment_revenue(self) -> dict[str, tuple[int, int]]:
        cust = self.sats["hsat_customer_details"].latest
        orders = self.sats["hsat_order_details"].latest
        out: dict[str, list[int]] = {}
        for k, c in self.order_cust.items():
            cur = cust.get(dv_hash(c))
            if cur is None or not cur[1]:
                continue
            acc = out.setdefault(cur[0][3], [0, 0])
            acc[0] += 1
            acc[1] += orders[dv_hash(k)][0][1]
        return {k: (v[0], v[1]) for k, v in out.items()}

    def pit_counts(self, snapshots: list[dt.datetime]) -> tuple[int, int, int]:
        """(pit rows, rows with an order_details version, rows with an
        order_terms version) for a PIT over the two order satellites."""
        d = self.sats["hsat_order_details"].first_ts
        t = self.sats["hsat_order_terms"].first_ts
        keys = set(d) | set(t)
        n_d = sum(1 for s in snapshots for ts in d.values() if ts <= s)
        n_t = sum(1 for s in snapshots for ts in t.values() if ts <= s)
        return len(keys) * len(snapshots), n_d, n_t


def _crc_row(hk: str, ts: dt.datetime, deleted: bool, payload: tuple) -> int:
    s = "|".join([hk, ts.strftime("%Y-%m-%d %H:%M:%S"),
                  "true" if deleted else "false", *map(str, payload)])
    return zlib.crc32(s.encode())


def cv_checksum_sql(bv_db: str, sat: str) -> str:
    """Order-insensitive (rows, checksum) of ``bv.<sat>_cv``, rendered the
    same way as :meth:`VaultModel.cv_checksums`."""
    hk, payload = SATS[sat]
    parts = ", ".join(
        [hk, "date_format(load_dts, 'yyyy-MM-dd HH:mm:ss')",
         "cast(del_flag as string)", *[f"cast({p} as string)" for p in payload]]
    )
    return (f"SELECT count(*) AS n, coalesce(sum(crc32(concat_ws('|', {parts}))), 0) "
            f"AS cs FROM {bv_db}.{sat}_cv")
