"""Property-driven feature set — the reference's ``spark.cdm.feature.*``
/ ``spark.cdm.schema.origin.column.names.to.target`` surface wired to
the transform operators, so a reference ``cdm.properties`` file drives
the same row rewrites here that it drives there.

The reference's features are stateful Java classes loaded from
properties and applied per-row while binding the target statement
(``feature/ConstantColumns.java:32-148``, ``feature/ExplodeMap.java:
36-250``, ``feature/ExtractJson.java:33-159``, rename map
``data/DataUtility.java:71-140`` from
``properties/KnownProperties.java:112``). Here the same properties
compile once into a single Catalyst projection chain (rename →
explode → extract-json → constants) that runs inside whole-stage
codegen — no per-row work on the driver or in Python.

Composite target keys: the reference's ExplodeMap widens the target
primary key with the map-key column (``data/PKFactory.java:235-248``).
This engine's lake table merges on ONE key column, so an exploding
feature set synthesizes a deterministic surrogate key
``concat(key, US, map_key)`` (unit-separator joined, order-stable) and
the table is keyed on that — same uniqueness, one column.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Any, Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cassandra_data_migrator_spark.operators import transforms as TR

# every property this module consumes (KnownProperties.java:112,255-285)
RENAME_KEY = "spark.cdm.schema.origin.column.names.to.target"
CONST_NAMES = "spark.cdm.feature.constantColumns.names"
CONST_VALUES = "spark.cdm.feature.constantColumns.values"
CONST_REGEX = "spark.cdm.feature.constantColumns.splitRegex"
EXPLODE_ORIGIN = "spark.cdm.feature.explodeMap.origin.name"
EXPLODE_KEY = "spark.cdm.feature.explodeMap.target.name.key"
EXPLODE_VALUE = "spark.cdm.feature.explodeMap.target.name.value"
XJSON_ORIGIN = "spark.cdm.feature.extractJson.originColumn"
XJSON_MAPPING = "spark.cdm.feature.extractJson.propertyMapping"
XJSON_OVERWRITE = "spark.cdm.feature.extractJson.overwrite"
XJSON_EXCLUSIVE = "spark.cdm.feature.extractJson.exclusive"

# transform.* / WritetimeTTL property family
# (KnownProperties.java:120-130,195-206)
MAP_SCRUB = "spark.cdm.transform.map.remove.null.value"
CUSTOM_WRITETIME = "spark.cdm.transform.custom.writetime"
CUSTOM_WRITETIME_INC = "spark.cdm.transform.custom.writetime.incrementBy"
CUSTOM_TTL = "spark.cdm.transform.custom.ttl"
CODECS = "spark.cdm.transform.codecs"
CODEC_TS_FORMAT = "spark.cdm.transform.codecs.timestamp.string.format"
CODEC_TS_ZONE = "spark.cdm.transform.codecs.timestamp.string.zone"
WRITETIME_NAMES = "spark.cdm.schema.origin.column.writetime.names"
WRITETIME_AUTO = "spark.cdm.schema.origin.column.writetime.automatic"
TTL_NAMES = "spark.cdm.schema.origin.column.ttl.names"
TTL_AUTO = "spark.cdm.schema.origin.column.ttl.automatic"
USE_COLLECTIONS = "spark.cdm.schema.ttlwritetime.calc.useCollections"

FEATURE_PROPERTY_KEYS = frozenset({
    RENAME_KEY, CONST_NAMES, CONST_VALUES, CONST_REGEX,
    EXPLODE_ORIGIN, EXPLODE_KEY, EXPLODE_VALUE,
    XJSON_ORIGIN, XJSON_MAPPING, XJSON_OVERWRITE, XJSON_EXCLUSIVE,
    MAP_SCRUB, CUSTOM_WRITETIME, CUSTOM_WRITETIME_INC, CUSTOM_TTL,
    CODECS, CODEC_TS_FORMAT, CODEC_TS_ZONE,
    WRITETIME_NAMES, WRITETIME_AUTO, TTL_NAMES, TTL_AUTO,
    USE_COLLECTIONS,
})

# surrogate-key separator: ASCII unit separator, cannot appear in the
# reference's CQL identifier-ish keys
_US = "\x1f"
SURROGATE_SEP = _US          # public alias: table bucket_prefix_sep
SURROGATE_KEY_COL = "_cdm_pk"


def _unquote(name: str) -> str:
    """Strip CQL identifier quoting (``"key-name"`` → ``key-name``) —
    the reference's ``CqlTable.unFormatNames``."""
    name = name.strip()
    if len(name) >= 2 and name[0] == '"' and name[-1] == '"':
        return name[1:-1].replace('""', '"')
    return name


def parse_rename_map(v: str) -> dict[str, str]:
    """``"key-name":key_name,colA:col_a`` → ``{origin: target}``
    (``DataUtility.java:71-140``)."""
    out: dict[str, str] = {}
    for pair in v.split(","):
        pair = pair.strip()
        if not pair:
            continue
        o, sep, t = pair.partition(":")
        if not sep:
            raise ValueError(f"rename entry {pair!r} is not origin:target")
        out[_unquote(o)] = _unquote(t)
    return out


_INT_RE = re.compile(r"^[+-]?\d+$")
_FLOAT_RE = re.compile(r"^[+-]?(\d+\.\d*|\.\d+|\d+)([eE][+-]?\d+)?$")


def parse_cql_literal(tok: str) -> tuple[Any, str]:
    """One CQL-ish constant literal → ``(python value, spark type ddl)``.

    The reference binds constant values as raw CQL literals
    (``ConstantColumns.java:126-148``); the equivalents here:
    ``'text'`` → string, ``true/false`` → boolean, integers → int
    (bigint when out of int range), decimals → double, ``null`` → null
    typed string HERE but re-bound to the target column's own type at
    the codec/bind stage once the target schema is known
    (:meth:`FeatureSet.codec_stage`), matching the reference's
    target-typed null bind.
    """
    tok = tok.strip()
    if len(tok) >= 2 and tok[0] == "'" and tok[-1] == "'":
        return tok[1:-1].replace("''", "'"), "string"
    low = tok.lower()
    if low in ("true", "false"):
        return low == "true", "boolean"
    if low == "null":
        return None, "string"
    if _INT_RE.match(tok):
        i = int(tok)
        return i, ("int" if -(2**31) <= i < 2**31 else "bigint")
    if _FLOAT_RE.match(tok):
        return float(tok), "double"
    raise ValueError(f"cannot parse constant literal {tok!r}")


def parse_constants(names: str, values: str,
                    split_regex: str = ",") -> dict[str, tuple[Any, str]]:
    """names + regex-split values → ``{name: (value, ddl)}``
    (``ConstantColumns.java:130-148``; regex default matches the
    reference's shipped ``cdm-detailed.properties`` examples)."""
    ns = [_unquote(n) for n in names.split(",") if n.strip()]
    vs = [v for v in re.split(split_regex, values)] if values else []
    if len(ns) != len(vs):
        raise ValueError(
            f"constantColumns.names has {len(ns)} entries but values "
            f"split into {len(vs)} (splitRegex={split_regex!r})")
    return {n: parse_cql_literal(v) for n, v in zip(ns, vs)}


@dataclass(frozen=True)
class FeatureSet:
    """Compiled per-migration feature chain.

    Application order mirrors the reference's row construction: the
    rename map resolves origin names to target names first (every later
    feature is configured in target terms), ExplodeMap fans rows out,
    ExtractJson derives its column, constants are appended last.
    """

    rename: Mapping[str, str] = field(default_factory=dict)
    constants: Mapping[str, tuple[Any, str]] = field(default_factory=dict)
    # (map_col_target_name, key_col_name, value_col_name)
    explode: tuple[str, str, str] | None = None
    # (origin_col, json_field, target_col, overwrite, exclusive)
    extract_json: tuple[str, str, str, bool, bool] | None = None

    # --- transform.* / WritetimeTTL family (value transforms: none of
    # these reshape the target schema except the TTL expiry column) ---
    # drop null-valued map entries before write (T8,
    # schema/CqlTable.java:348-373)
    scrub_map_nulls: bool = False
    # constant writetime in epoch MICROseconds, 0 = off; wins over
    # writetime_names (feature/WritetimeTTL.java:72-79,231) — the
    # reference uses it so migrated rows lose LWW to newer live writes
    custom_writetime: int = 0
    # µs added to the column-derived writetime (WritetimeTTL.java:245 —
    # the duplicate-timestamp mitigation); NOT added to custom_writetime
    writetime_increment: int = 0
    # constant TTL seconds, 0 = off; wins over ttl_names
    custom_ttl: int = 0
    # row writetime = max over these origin columns
    # (spark.cdm.schema.origin.column.writetime.names)
    writetime_names: tuple[str, ...] = ()
    # row TTL = max over these origin columns (seconds)
    ttl_names: tuple[str, ...] = ()
    # list-typed writetime/ttl columns contribute their max element
    # (spark.cdm.schema.ttlwritetime.calc.useCollections)
    use_collections: bool = False
    # enabled codec families (spark.cdm.transform.codecs,
    # cql/codec/Codecset.java) + the TIMESTAMP_STRING_FORMAT parameters
    codecs: tuple[str, ...] = ()
    codec_ts_format: str | None = None
    codec_ts_zone: str = "UTC"

    EXPIRES_COL = "expires_at"

    def __bool__(self) -> bool:
        return bool(self.rename or self.constants or self.explode
                    or self.extract_json or self.scrub_map_nulls
                    or self.custom_writetime or self.writetime_increment
                    or self.custom_ttl or self.writetime_names
                    or self.ttl_names or self.codecs)

    @property
    def reshapes(self) -> bool:
        """True when the chain changes the TARGET's shape/keying —
        these force target-schema inference in the job CLI; the value
        transforms above keep the origin shape (modulo the expiry
        column)."""
        return bool(self.rename or self.constants or self.explode
                    or self.extract_json)

    @property
    def needs_origin_inference(self) -> bool:
        """True when the configured features imply the origin event
        shape is NOT the default web-event schema (renamed/map/json
        columns, extra writetime/TTL columns, codec-mismatched types)
        — the job CLI infers the event schema then. Pure value
        transforms (custom writetime/TTL) read only engine columns and
        keep the default."""
        return (self.reshapes or bool(self.writetime_names)
                or bool(self.ttl_names) or bool(self.codecs)
                or self.scrub_map_nulls)

    @property
    def adds_expiry(self) -> bool:
        """TTL configuration materializes an ``expires_at`` column (the
        lake analog of Cassandra's server-side cell expiry — see
        ``transforms.ttl_expiry``)."""
        return self.custom_ttl > 0 or bool(self.ttl_names)

    # ------------------------------------------------------------ keys

    def target_key_col(self, origin_key: str) -> str:
        """The merge/partition key of the TARGET table: the renamed key
        column, widened to the surrogate composite when ExplodeMap is on
        (reference PK widening, ``PKFactory.java:235-248``)."""
        if self.explode is not None:
            return SURROGATE_KEY_COL
        return self.rename.get(origin_key, origin_key)

    # ------------------------------------------------- value transforms

    def _wt_term(self, df: DataFrame, col: str):
        """One writetime/ttl source column → scalar term. Long columns
        are epoch-µs writetimes (→ timestamp); arrays contribute their
        max element when useCollections is on
        (``WritetimeTTL.java:247-254``)."""
        from pyspark.sql import types as T
        dt = df.schema[col].dataType
        c = F.col(col)
        if isinstance(dt, T.ArrayType):
            if not self.use_collections:
                raise ValueError(
                    f"writetime/ttl column {col!r} is a collection; set "
                    "spark.cdm.schema.ttlwritetime.calc.useCollections "
                    "(WritetimeTTL.java:247)")
            c = F.array_max(c)
            dt = dt.elementType
        if isinstance(dt, T.LongType):
            return F.timestamp_micros(c)
        return c

    def _event_time_stage(self, df: DataFrame, ts_col: str) -> DataFrame:
        """Writetime override. It rewrites the LWW version, so it runs
        before any LWW ordering: the merge and validate's origin truth
        both order events after :meth:`transform`. Not idempotent —
        with ts_col itself in writetime.names, a second application
        adds the increment again."""
        if self.custom_writetime > 0:
            # constant wins; increment deliberately NOT added
            # (WritetimeTTL.java:231,245)
            return df.withColumn(
                ts_col, F.timestamp_micros(F.lit(self.custom_writetime)))
        if self.writetime_names:
            terms = [self._wt_term(df, c) for c in self.writetime_names]
            m = F.greatest(*terms) if len(terms) > 1 else terms[0]
            if self.writetime_increment:
                m = m + F.expr(
                    f"INTERVAL {self.writetime_increment} MICROSECOND")
            return df.withColumn(ts_col, m)
        return df

    def _ttl_stage(self, df: DataFrame, ts_col: str) -> DataFrame:
        """Materialize ``expires_at = writetime + TTL`` (the lake
        analog of ``USING TTL``; read() filters expired rows via
        ``EngineConfig.expires_col``)."""
        if not self.adds_expiry:
            return df
        if self.custom_ttl > 0:
            ttl = F.lit(self.custom_ttl)
        else:
            from pyspark.sql import types as T
            terms = []
            for col in self.ttl_names:
                dt = df.schema[col].dataType
                c = F.col(col)
                if isinstance(dt, T.ArrayType):
                    if not self.use_collections:
                        raise ValueError(
                            f"ttl column {col!r} is a collection; set "
                            "spark.cdm.schema.ttlwritetime.calc."
                            "useCollections")
                    c = F.array_max(c)
                terms.append(c.cast("long"))
            ttl = F.greatest(*terms) if len(terms) > 1 else terms[0]
        return TR.ttl_expiry(df, ts_col, ttl, out=self.EXPIRES_COL)

    def _scrub_stage(self, df: DataFrame) -> DataFrame:
        """Null-valued map entries dropped from every map column that
        survives to the target (the exploded origin map is excluded:
        it is consumed by the fan-out, not bound as a map)."""
        if not self.scrub_map_nulls:
            return df
        from pyspark.sql import types as T
        skip = {self.explode[0]} if self.explode is not None else set()
        out = df
        for f in df.schema.fields:
            if isinstance(f.dataType, T.MapType) and f.name not in skip:
                out = TR.map_null_scrub(out, f.name)
        return out

    @property
    def has_null_constants(self) -> bool:
        return any(v is None for v, _ in self.constants.values())

    def codec_stage(self, df: DataFrame, target_schema) -> DataFrame:
        """Reconcile event column types to the target's via the enabled
        codec families — runs AFTER the reshape chain, like the
        reference's bind-time codec dispatch
        (``cql/codec/CodecFactory.java:29-64``).

        Null constant columns re-bind here too: a bare ``null`` literal
        carries no type of its own, so — like the reference, which
        binds it as the target column's own CQL type
        (``ConstantColumns.java:126-148``) — it takes the TARGET
        schema's type once that schema is known (the parse-time
        placeholder is string, which only ever survives on the
        infer-schema path where it BECOMES the target type)."""
        out = df
        if self.has_null_constants:
            nulls = {n: target_schema[n].dataType
                     for n, (v, _) in self.constants.items()
                     if v is None and n in target_schema.names}
            if nulls:
                out = out.withColumns(
                    {n: F.lit(None).cast(t) for n, t in nulls.items()})
        if not self.codecs:
            return out
        return TR.apply_codecs(out, target_schema, self.codecs,
                               ts_format=self.codec_ts_format,
                               ts_zone=self.codec_ts_zone)

    # ------------------------------------------------------- transform

    def transform(self, df: DataFrame, origin_key: str | None = None,
                  keep_cols: tuple[str, ...] = ("op", "seq", "warc_ts"),
                  ts_col: str | None = None) -> DataFrame:
        """Apply the whole chain; pass ``origin_key`` to also add the
        surrogate key column when exploding, ``ts_col`` to enable the
        writetime/TTL stages (they need the engine's event-time column
        name). ``keep_cols`` names engine bookkeeping columns (op /
        seq / event-time) an ``exclusive`` extract-json projection must
        ride along — callers with non-default column names pass their
        own."""
        out = df
        if ts_col is not None:
            out = self._event_time_stage(out, ts_col)
            out = self._ttl_stage(out, ts_col)
        out = self._scrub_stage(out)
        if self.rename:
            out = TR.rename_columns(
                out, {o: t for o, t in self.rename.items()
                      if o in out.columns})
        if self.explode is not None:
            map_col, key_name, value_name = self.explode
            map_col = self.rename.get(map_col, map_col)
            if "op" in out.columns:
                # CDC delete events carry no map entries — an inner
                # explode would fan them out to ZERO rows, silently
                # dropping the tombstone before the merge. Keep each
                # delete as ONE placeholder row (null explode key);
                # the job layer expands it into per-surviving-surrogate
                # tombstones against the live target (delete fan-out).
                mt = out.schema[map_col].dataType
                # null-safe: rows with op=NULL are ordinary upserts
                # (the merge treats any non-'delete' op as upsert) and
                # must explode, not vanish into neither branch
                is_del = F.col("op").eqNullSafe("delete")
                dels = (out.filter(is_del)
                        .withColumn(key_name,
                                    F.lit(None).cast(mt.keyType))
                        .withColumn(value_name,
                                    F.lit(None).cast(mt.valueType))
                        .drop(map_col))
                rest = TR.explode_map(out.filter(~is_del),
                                      map_col, key_name, value_name)
                out = rest.unionByName(dels)
            else:
                out = TR.explode_map(out, map_col, key_name, value_name)
        if self.extract_json is not None:
            origin_col, fieldname, target_col, overwrite, exclusive = \
                self.extract_json
            origin_col = self.rename.get(origin_col, origin_col)
            out = TR.extract_json(out, origin_col, f"$.{fieldname}",
                                  target_col, overwrite=overwrite)
            if exclusive:
                # exclusive: the target receives only PK + extracted
                # column (cdm-detailed.properties:447-449)
                keep = {target_col}
                if origin_key is not None:
                    keep.add(self.rename.get(origin_key, origin_key))
                # engine bookkeeping columns ride along
                keep |= {c for c in keep_cols if c in out.columns}
                if self.adds_expiry:
                    keep.add(self.EXPIRES_COL)
                if self.explode is not None:
                    # the surrogate-key expression below still needs
                    # the explode key column — exclusive must not
                    # drop the merge key's ingredient
                    keep.add(self.explode[1])
                out = out.select(*[c for c in out.columns if c in keep])
        if self.constants:
            out = TR.constant_columns(out, self.constants)
        if self.explode is not None and origin_key is not None:
            key = self.rename.get(origin_key, origin_key)
            out = out.withColumn(
                SURROGATE_KEY_COL,
                F.concat_ws(_US, F.col(key).cast("string"),
                            F.col(self.explode[1]).cast("string")))
        return out


def build_featureset(props: Mapping[str, str]) -> FeatureSet:
    """Compile the feature properties out of a parsed ``spark.cdm.*``
    map (non-feature keys ignored)."""
    rename = parse_rename_map(props[RENAME_KEY]) if RENAME_KEY in props \
        else {}
    constants: dict[str, tuple[Any, str]] = {}
    if CONST_NAMES in props or CONST_VALUES in props:
        constants = parse_constants(
            props.get(CONST_NAMES, ""), props.get(CONST_VALUES, ""),
            props.get(CONST_REGEX, ","))
    explode = None
    if EXPLODE_ORIGIN in props:
        if EXPLODE_KEY not in props or EXPLODE_VALUE not in props:
            raise ValueError(
                "explodeMap requires origin.name, target.name.key and "
                "target.name.value (ExplodeMap.java:36-97)")
        explode = (_unquote(props[EXPLODE_ORIGIN]),
                   _unquote(props[EXPLODE_KEY]),
                   _unquote(props[EXPLODE_VALUE]))
    extract_json = None
    if XJSON_ORIGIN in props or XJSON_MAPPING in props:
        if XJSON_ORIGIN not in props or XJSON_MAPPING not in props:
            raise ValueError(
                "extractJson requires both originColumn and "
                "propertyMapping (ExtractJson.java:75-90)")
        mapping = _unquote(props[XJSON_MAPPING])
        fieldname, sep, target = mapping.partition(":")
        if not sep:
            # single token = field name doubles as target column
            # (ExtractJson.java:56-63)
            fieldname = target = mapping
        lit = props.get(XJSON_OVERWRITE, "false").strip().lower()
        excl = props.get(XJSON_EXCLUSIVE, "false").strip().lower()
        extract_json = (_unquote(props[XJSON_ORIGIN]), fieldname,
                        _unquote(target),
                        lit in ("true", "1", "yes"),
                        excl in ("true", "1", "yes"))

    def _b(key: str) -> bool:
        return props.get(key, "").strip().lower() in ("true", "1", "yes")

    def _i(key: str) -> int:
        v = props.get(key, "").strip()
        return int(v) if v else 0

    def _names(key: str) -> tuple[str, ...]:
        return tuple(_unquote(n) for n in props.get(key, "").split(",")
                     if n.strip())

    custom_wt = _i(CUSTOM_WRITETIME)
    if custom_wt < 0:
        # out-of-range custom writetime disables, same as the reference
        # (WritetimeTTL.java:362-365)
        custom_wt = 0
    codecs = tuple(c.strip().upper() for c in props.get(CODECS, "").split(",")
                   if c.strip())
    if "TIMESTAMP_STRING_FORMAT" in codecs \
            and not props.get(CODEC_TS_FORMAT, "").strip():
        raise ValueError(
            "TIMESTAMP_STRING_FORMAT codec requires "
            f"{CODEC_TS_FORMAT} (TIMESTAMP_StringFormatCodec.java:33)")
    wt_inc = _i(CUSTOM_WRITETIME_INC)
    if wt_inc < 0:
        # the reference fails validation for increment < 0
        # (WritetimeTTL.java:113-117) — shifting writetimes backwards
        # silently reorders LWW, so refuse rather than clamp
        raise ValueError(
            f"{CUSTOM_WRITETIME_INC} must be >= 0, got {wt_inc} "
            "(WritetimeTTL.java:113-117)")
    # .automatic (default true) = derive writetime/TTL from the event's
    # own time column — this engine's default behavior, so the keys are
    # accepted as-is; explicit .names below override per-column
    return FeatureSet(rename=rename, constants=constants,
                      explode=explode, extract_json=extract_json,
                      scrub_map_nulls=_b(MAP_SCRUB),
                      custom_writetime=custom_wt,
                      writetime_increment=wt_inc,
                      custom_ttl=max(0, _i(CUSTOM_TTL)),
                      writetime_names=_names(WRITETIME_NAMES),
                      ttl_names=_names(TTL_NAMES),
                      use_collections=_b(USE_COLLECTIONS),
                      codecs=codecs,
                      codec_ts_format=props.get(CODEC_TS_FORMAT, "").strip()
                      or None,
                      codec_ts_zone=props.get(CODEC_TS_ZONE, "").strip()
                      or "UTC")
