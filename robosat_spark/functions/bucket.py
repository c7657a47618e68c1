"""Iceberg ``bucket[N]`` partition transform as pure column expressions.

The transform (Iceberg table spec, "Partition Transforms" + Appendix B
"32-bit Hash Requirements") is ``(murmur3_x86_32(bytes(v)) & MAX_INT) %
N`` with seed 0, where ints/longs hash as their 8-byte little-endian
representation and strings as UTF-8 bytes. Bucketing a 100 TB table on
its join/merge key is what turns point lookups and MERGE key application
into 1/N-of-the-files work: the scanner proves from manifests alone that
a ``key = ?`` predicate can only live in files of partition
``bucket(?)`` and never opens the rest.

Spec-exactness matters: any engine (Spark here, but also Trino, Flink,
or native Iceberg readers) must compute the identical bucket for the
identical value or partition pruning silently returns wrong results.
The algorithm below is therefore written ONCE (``_murmur3_long_steps``)
as a straight-line SSA step list and rendered twice — as a chain of
Spark ``withColumn`` temporaries (each step a tiny JVM-codegen integer
expression; the chain keeps the plan LINEAR in the step count, where a
single nested Column tree would duplicate every operand reference and
blow up ~2^12x) and as a chain of nested SQL subselects for the DuckDB
oracle twin (same linearity argument) — so the two engines cannot
drift. Both are pinned against the pure-Python reference
(``murmur3_32_py``), which itself reproduces the published spec test
vectors bit-for-bit (Appendix B: long 34 -> 2017239379, string
"iceberg" -> 1210000089, date 17486 -> -653330422; asserted in
tests/test_bucket.py).

All 32-bit modular arithmetic is emulated in non-negative BIGINT with a
16-bit-split multiply (x*c mod 2^32 = (xl*c + ((xh*c & 0xFFFF) << 16))
mod 2^32), so every intermediate stays < 2^48 — safely inside signed-64
range on both engines, no unsigned types needed.

Reference behavior analog: the reference has no table format at all (it
re-lists slippy-map directories, /root/reference/robosat/tiles.py:52);
bucketing is part of this engine's storage layer the reference lacks.
"""

from __future__ import annotations

import struct

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_C1 = 0xCC9E2D51
_C2 = 0x1B873593
_M32 = 0xFFFFFFFF
_FMIX1 = 0x85EBCA6B
_FMIX2 = 0xC2B2AE35
_MIX_ADD = 0xE6546B64
_MAX_INT = 0x7FFFFFFF


# -- one algorithm, one SSA step list, two renderers --------------------------
#
# Steps are ("op", *args) tuples over variable NAMES; every intermediate
# is named exactly once and referenced by name, so both renderers stay
# linear in the ~30-step program instead of exponential in the data-flow
# fan-out (rotl/mul32 reference their operand twice).
#
# ops: ("lit", out, v) | ("mask32", out, a) | ("shr", out, a, n)
#    | ("mul32", out, a, c) | ("rotl32", out, a, r)
#    | ("xor", out, a, b) | ("add32c", out, a, c)


class _StepList:
    def __init__(self):
        self.steps = []
        self._n = 0

    def emit(self, op, *args) -> str:
        out = f"__m{self._n}"
        self._n += 1
        self.steps.append((op, out, *args))
        return out


def _mix_block_steps(s: _StepList, h: str, k: str) -> str:
    """One 4-byte block mix; returns the new h variable."""
    k = s.emit("mul32", k, _C1)
    k = s.emit("rotl32", k, 15)
    k = s.emit("mul32", k, _C2)
    h = s.emit("xor", h, k)
    h = s.emit("rotl32", h, 13)
    h = s.emit("mul32", h, 5)
    return s.emit("add32c", h, _MIX_ADD)


def _fmix_steps(s: _StepList, h: str, length: str) -> str:
    h = s.emit("xor", h, length)
    t = s.emit("shr", h, 16)
    h = s.emit("xor", h, t)
    h = s.emit("mul32", h, _FMIX1)
    t = s.emit("shr", h, 13)
    h = s.emit("xor", h, t)
    h = s.emit("mul32", h, _FMIX2)
    t = s.emit("shr", h, 16)
    return s.emit("xor", h, t)


def _murmur3_long_steps(v: str) -> tuple[_StepList, str]:
    """Murmur3_x86_32(little-endian 8 bytes of long ``v``), seed 0 — the
    two 4-byte blocks are the low and high halves, so the whole hash is
    a fixed ~30-step straight-line integer program (no UDF, no loop).
    ``v`` may be negative; masking extracts two's-complement bit halves
    identically on both engines (arithmetic vs logical >> is irrelevant
    under the & 0xFFFFFFFF)."""
    s = _StepList()
    k1 = s.emit("mask32", v)
    t = s.emit("shr", v, 32)
    k2 = s.emit("mask32", t)
    zero = s.emit("lit", 0)
    h = _mix_block_steps(s, zero, k1)
    h = _mix_block_steps(s, h, k2)
    eight = s.emit("lit", 8)
    return s, _fmix_steps(s, h, eight)


def _render_spark_step(env: dict, step) -> Column:
    op, _out = step[0], step[1]
    a = env.get(step[2], None) if len(step) > 2 and isinstance(step[2], str) else None
    if op == "lit":
        return F.lit(step[2]).cast("bigint")
    if op == "mask32":
        return a.bitwiseAND(F.lit(_M32))
    if op == "shr":
        return F.shiftright(a, step[3])
    if op == "mul32":
        c = step[3]
        xl = a.bitwiseAND(F.lit(0xFFFF))
        xh = F.shiftright(a, 16)
        hi = (xh * F.lit(c)).bitwiseAND(F.lit(0xFFFF))
        return (xl * F.lit(c) + F.shiftleft(hi, 16)).bitwiseAND(F.lit(_M32))
    if op == "rotl32":
        r = step[3]
        return F.shiftleft(a, r).bitwiseAND(F.lit(_M32)).bitwiseOR(
            F.shiftright(a, 32 - r)
        )
    if op == "xor":
        return a.bitwiseXOR(env[step[3]])
    if op == "add32c":
        return (a + F.lit(step[3])).bitwiseAND(F.lit(_M32))
    raise ValueError(op)


def _render_sql_step(step) -> str:
    op = step[0]
    a = step[2] if len(step) > 2 else None
    if op == "lit":
        return str(step[2])
    if op == "mask32":
        return f"({a} & {_M32})"
    if op == "shr":
        return f"({a} >> {step[3]})"
    if op == "mul32":
        c = step[3]
        return (
            f"((({a} & 65535) * {c} + "
            f"(((({a} >> 16) * {c}) & 65535) << 16)) & {_M32})"
        )
    if op == "rotl32":
        r = step[3]
        return f"((({a} << {r}) & {_M32}) | ({a} >> {32 - r}))"
    if op == "xor":
        return f"xor({a}, {step[3]})"
    if op == "add32c":
        return f"(({a} + {step[3]}) & {_M32})"
    raise ValueError(op)


# -- Spark (DataFrame-level: a withColumn chain keeps the plan linear) --------


def _require_free(df: DataFrame, out: str, temps) -> None:
    """The chains below name their temporaries ``__…`` and drop them at the
    end, so a caller column (or ``out``) with one of those names would be
    overwritten or dropped silently; refuse it instead. Spark resolves
    names case-insensitively by default, so the check does too."""
    taken = {c.lower() for c in df.columns} | {out.lower()}
    clash = sorted(t for t in temps if t in taken)
    if clash:
        raise ValueError(f"column name(s) {clash} collide with the hash chain's temporaries")


def with_murmur3_long(df: DataFrame, src: str, out: str) -> DataFrame:
    """Adds UNSIGNED 32-bit column ``out`` = spec murmur3 of long column
    ``src`` (NULL -> NULL). The ~30 temp columns are dropped; Catalyst
    keeps multiply-referenced non-cheap aliases un-inlined, so codegen
    evaluates each step once."""
    s, final = _murmur3_long_steps("__msrc")
    _require_free(df, out, ["__msrc"] + [st[1] for st in s.steps])
    # each step references prior steps BY COLUMN NAME, so the plan is a
    # linear projection chain, not one nested expression tree
    env = {st[1]: F.col(st[1]) for st in s.steps}
    env["__msrc"] = F.col("__msrc")
    w = df.withColumn("__msrc", F.col(src).cast("bigint"))
    for step in s.steps:
        w = w.withColumn(step[1], _render_spark_step(env, step))
    w = w.withColumn(out, F.col(final))
    return w.drop("__msrc", *[st[1] for st in s.steps])


def with_bucket_long(df: DataFrame, src: str, out: str, n: int) -> DataFrame:
    """Adds ``out`` = bucket[n] partition value of long column ``src``."""
    _require_free(df, out, ["__mh"])
    w = with_murmur3_long(df, src, "__mh")
    w = w.withColumn(
        out,
        F.col("__mh").bitwiseAND(F.lit(_MAX_INT)).__mod__(F.lit(n)).cast("int"),
    )
    return w.drop("__mh")


def _mul32_col(x: Column, c: int) -> Column:
    xl = x.bitwiseAND(F.lit(0xFFFF))
    xh = F.shiftright(x, 16)
    hi = (xh * F.lit(c)).bitwiseAND(F.lit(0xFFFF))
    return (xl * F.lit(c) + F.shiftleft(hi, 16)).bitwiseAND(F.lit(_M32))


def _rotl32_col(x: Column, r: int) -> Column:
    return F.shiftleft(x, r).bitwiseAND(F.lit(_M32)).bitwiseOR(
        F.shiftright(x, 32 - r)
    )


_STR_TMP = (
    "__shx", "__snb", "__snbl", "__sagg", "__sk0", "__sk1", "__sk2",
    "__sk3", "__sh0", "__sh1", "__sh2", "__sh3", "__sh4", "__sh5",
)


def with_murmur3_string(df: DataFrame, src: str, out: str) -> DataFrame:
    """DataFrame form of the spec string hash as an SSA withColumn chain
    (spec string hash of the UTF-8 bytes, seed 0, as UNSIGNED bigint;
    NULL -> NULL; pinned against ``murmur3_32_py`` in
    tests/test_bucket.py): the block loop stays ONE
    constant-size runtime ``aggregate`` fold, and the tail mix + final
    avalanche are each a named single-step temporary, so every subtree
    is planned and codegen-evaluated exactly once. Replaced the nested
    Column form on the write path in r7: the inverted-index build over
    sf0.1 postings dropped ~60 s -> ~3 s (17 s of it pure Catalyst
    analysis of the duplicated fold)."""
    _require_free(df, out, _STR_TMP)
    hx = F.col("__shx")

    def byte_at(i: Column) -> Column:
        # 1-based substring over the hex string; byte i is chars 2i+1..2i+2.
        # A one-conv-per-4-byte-block + integer byteswap variant was
        # interleave-A/B'd in r7 and lost (block ~8.8-9.1 s vs per-byte
        # ~7.0-7.7 s on the sf0.1 index write): the wide conv costs more
        # than the three convs it replaces.
        return F.conv(F.substring(hx, i * 2 + 1, 2), 16, 10).cast("bigint")

    def fold_step(h: Column, i: Column) -> Column:
        base = i * 4
        k = (
            byte_at(base)
            + F.shiftleft(byte_at(base + 1), 8)
            + F.shiftleft(byte_at(base + 2), 16)
            + F.shiftleft(byte_at(base + 3), 24)
        )
        k = _mul32_col(k, _C1)
        k = _rotl32_col(k, 15)
        k = _mul32_col(k, _C2)
        h = h.bitwiseXOR(k)
        h = _rotl32_col(h, 13)
        return (_mul32_col(h, 5) + F.lit(_MIX_ADD)).bitwiseAND(F.lit(_M32))

    nb = F.col("__snb")
    nblocks = F.col("__snbl")
    rem = nb % 4
    tb = nblocks * 4
    w = (
        df.withColumn("__shx", F.hex(F.encode(F.col(src), "UTF-8")))
        .withColumn("__snb", F.length(F.encode(F.col(src), "UTF-8")))
        .withColumn("__snbl", F.floor(F.col("__snb") / 4).cast("int"))
        .withColumn(
            "__sagg",
            F.when(
                nblocks > 0,
                F.aggregate(
                    F.sequence(F.lit(0), nblocks - 1),
                    F.lit(0).cast("bigint"),
                    fold_step,
                ),
            ).otherwise(F.lit(0).cast("bigint")),
        )
        .withColumn(
            "__sk0",
            F.when(
                rem == 3,
                byte_at(tb)
                + F.shiftleft(byte_at(tb + 1), 8)
                + F.shiftleft(byte_at(tb + 2), 16),
            )
            .when(rem == 2, byte_at(tb) + F.shiftleft(byte_at(tb + 1), 8))
            .when(rem == 1, byte_at(tb))
            .otherwise(F.lit(0)),
        )
        .withColumn("__sk1", _mul32_col(F.col("__sk0"), _C1))
        .withColumn("__sk2", _rotl32_col(F.col("__sk1"), 15))
        .withColumn("__sk3", _mul32_col(F.col("__sk2"), _C2))
        .withColumn(
            "__sh0",
            F.when(rem > 0, F.col("__sagg").bitwiseXOR(F.col("__sk3"))).otherwise(
                F.col("__sagg")
            ),
        )
        .withColumn("__sh1", F.col("__sh0").bitwiseXOR(nb.cast("bigint")))
        .withColumn(
            "__sh2", F.col("__sh1").bitwiseXOR(F.shiftright(F.col("__sh1"), 16))
        )
        .withColumn("__sh3", _mul32_col(F.col("__sh2"), _FMIX1))
        .withColumn(
            "__sh4", F.col("__sh3").bitwiseXOR(F.shiftright(F.col("__sh3"), 13))
        )
        .withColumn("__sh5", _mul32_col(F.col("__sh4"), _FMIX2))
        .withColumn(
            out, F.col("__sh5").bitwiseXOR(F.shiftright(F.col("__sh5"), 16))
        )
    )
    return w.drop(*_STR_TMP)


def with_bucket_string(df: DataFrame, src: str, out: str, n: int) -> DataFrame:
    """Adds ``out`` = bucket[n] partition value of string column ``src``."""
    _require_free(df, out, ["__mhs"])
    w = with_murmur3_string(df, src, "__mhs")
    w = w.withColumn(
        out,
        F.col("__mhs").bitwiseAND(F.lit(_MAX_INT)).__mod__(F.lit(n)).cast("int"),
    )
    return w.drop("__mhs")


# -- DuckDB SQL twin (nested-subselect chain, same step list) -----------------


def murmur3_32_long_sql_query(inner_sql: str, v_expr: str, out: str = "h") -> str:
    """Nested-subselect DuckDB query computing the spec hash of
    ``v_expr`` over ``inner_sql``'s rows as column ``out`` (all source
    columns pass through). Generated from the SAME step list as the
    Spark plan — the twin cannot drift."""
    s, final = _murmur3_long_steps("__msrc")
    q = f"SELECT *, ({v_expr})::BIGINT AS __msrc FROM ({inner_sql})"
    for step in s.steps:
        q = f"SELECT *, {_render_sql_step(step)} AS {step[1]} FROM ({q})"
    drops = ", ".join(["__msrc"] + [st[1] for st in s.steps])
    return f"SELECT * EXCLUDE ({drops}), {final} AS {out} FROM ({q})"


def iceberg_bucket_long_sql_query(inner_sql: str, v_expr: str, n: int,
                                  out: str = "b") -> str:
    hq = murmur3_32_long_sql_query(inner_sql, v_expr, out="__mhash")
    return (
        f"SELECT * EXCLUDE (__mhash), "
        f"CAST((__mhash & {_MAX_INT}) % {n} AS INT) AS {out} FROM ({hq})"
    )


# -- pure-Python reference (spec pinning + planner-side pruning) --------------


def murmur3_32_py(data: bytes, seed: int = 0) -> int:
    """From-scratch Murmur3_x86_32 (public algorithm; Appendix B of the
    Iceberg spec fixes seed 0 and the byte layouts). Returns SIGNED
    int32 like the Java reference."""
    def rotl(x, r):
        return ((x << r) | (x >> (32 - r))) & _M32

    h = seed & _M32
    nblocks = len(data) // 4
    for i in range(nblocks):
        k = struct.unpack_from("<I", data, i * 4)[0]
        k = (k * _C1) & _M32
        k = rotl(k, 15)
        k = (k * _C2) & _M32
        h ^= k
        h = rotl(h, 13)
        h = (h * 5 + _MIX_ADD) & _M32
    k = 0
    tail = data[nblocks * 4:]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * _C1) & _M32
        k = rotl(k, 15)
        k = (k * _C2) & _M32
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * _FMIX1) & _M32
    h ^= h >> 13
    h = (h * _FMIX2) & _M32
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def iceberg_bucket_py(value, n: int) -> int | None:
    """Planner-side twin of the column expressions: the bucket a literal
    lands in (int/long -> 8-byte LE, str -> UTF-8). The scanner uses it
    to prove ``key = literal`` can only live in partition
    ``bucket(literal)``."""
    if value is None:
        return None
    if isinstance(value, bool):
        raise TypeError("bucket transform on boolean is not in the spec")
    if isinstance(value, int):
        data = struct.pack("<q", value)
    elif isinstance(value, str):
        data = value.encode("utf-8")
    elif isinstance(value, bytes):
        data = value
    else:
        raise TypeError(f"unsupported bucket source type: {type(value).__name__}")
    return (murmur3_32_py(data) & _MAX_INT) % n


def parse_bucket_transform(transform: str) -> int | None:
    """'bucket[16]' -> 16; 'identity' / anything else -> None."""
    if transform.startswith("bucket[") and transform.endswith("]"):
        return int(transform[len("bucket["):-1])
    return None
