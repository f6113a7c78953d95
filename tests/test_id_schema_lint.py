"""The id-schema gate: no kernel schema gives an id column a literal type.

Kernels type their id columns from the input (``similarity._id_typed_schema``),
so a string, int or long id comes back out as itself. This gate keeps it that way. It scans every string and f-string in the
package (placeholders read as ``{name}``, docstrings skipped) and every
``StructField`` call. A literal type given to an ``id_col``/``key_col`` column,
or to ``query_id``/``neighbor_id``, is a finding. It scans literals, not
bindings, so it finds a typed id wherever the schema is built and however it is
passed along (alias, module constant, ``+=``, walrus, ``global``, nested
scope). The red fixtures below show that for each form; the green ones show
what must not flag.
"""

from __future__ import annotations

import ast
import pathlib
import re
import textwrap

PKG = pathlib.Path(__file__).resolve().parent.parent / "realtime_voting_data_engineering_spark"
ID_NAMES, ID_PARAMS = {"query_id", "neighbor_id"}, {"id_col", "key_col"}
LITERAL_ID_TYPE = re.compile(
    r"(?:\{(?:id_col|key_col)\}|\b(?:query_id|neighbor_id))\s+(?:long|bigint|int|integer"
    r"|short|smallint|tinyint|byte|string|double|float|decimal|binary|boolean)\b"
)
# (module path, "column type") → why a literal id type is sound there.
ALLOWED: dict[tuple[str, str], str] = {}


def _callee(func: ast.expr) -> str:
    return func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", "")


def literal_id_types(source: str) -> list[tuple[int, str]]:
    """``(line, "column type")`` for each id column typed literally in ``source``."""
    tree = ast.parse(source)
    skip = {id(n.value) for n in ast.walk(tree) if isinstance(n, ast.Expr)}
    skip |= {id(v) for n in ast.walk(tree) if isinstance(n, ast.JoinedStr) for v in n.values}
    found = []
    for node in ast.walk(tree):
        if id(node) in skip:
            continue
        if isinstance(node, ast.JoinedStr):
            text = "".join(v.value if isinstance(v, ast.Constant)
                           else "{%s}" % ast.unparse(v.value) for v in node.values)
            found += [(node.lineno, m.group()) for m in LITERAL_ID_TYPE.finditer(text)]
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            found += [(node.lineno, m.group()) for m in LITERAL_ID_TYPE.finditer(node.value)]
        elif isinstance(node, ast.Call) and _callee(node.func) == "StructField":
            args = dict(zip(("name", "dataType"), node.args))
            args |= {k.arg: k.value for k in node.keywords}
            name, dtype = args.get("name"), args.get("dataType")
            literal_name = isinstance(name, ast.Constant) and name.value in ID_NAMES
            param_name = isinstance(name, ast.Name) and name.id in ID_PARAMS
            if (literal_name or param_name) and isinstance(dtype, ast.Call) \
                    and _callee(dtype.func).endswith("Type"):
                label = name.value if literal_name else "{%s}" % name.id
                found.append((node.lineno, f"{label} {ast.unparse(dtype)}"))
    return sorted(found)


def package_findings() -> list[tuple[str, int, str]]:
    return [(path.relative_to(PKG).as_posix(), line, text)
            for path in sorted(PKG.rglob("*.py"))
            for line, text in literal_id_types(path.read_text())]


def violations(found, allowed=ALLOWED):
    """``(unlisted findings, allowlist entries no finding matches)``."""
    live = {(rel, text) for rel, _, text in found}
    return ([f for f in found if (f[0], f[2]) not in allowed],
            sorted(set(allowed) - live))


def _scan(snippet: str) -> list[str]:
    return [text for _, text in literal_id_types(textwrap.dedent(snippet))]


# ---------------------------------------------------------------- current tree


def test_current_tree_has_no_unguarded_or_stale_sites():
    bad, stale = violations(package_findings())
    assert not bad, "id columns typed literally:\n" + "\n".join(map(str, bad))
    assert not stale, f"stale allowlist entries: {stale}"


def test_allowlisted_inventory_matches_live_findings_exactly():
    """The package types no id column literally, so the allowlist is empty."""
    assert ALLOWED == {} and package_findings() == []


def test_red_stale_allowlist_entry_fails():
    found = [("operators/fixture.py", 3, t) for t in _scan('spark.range(1).select("x")')]
    bad, stale = violations(found, {("operators/fixture.py", "query_id long"): "obsolete"})
    assert bad == [] and stale == [("operators/fixture.py", "query_id long")]


# ---------------------------------------------------------- red fixtures (MUST flag)


def test_red_unguarded_literal_ddl_kernel_flags():
    assert _scan(
        """
        def bad_kernel(df, id_col="doc_id"):
            def k(batches):
                yield None
            return df.mapInPandas(k, schema="query_id long, score double")
        """
    ) == ["query_id long"]


def test_red_unguarded_fstring_ddl_kernel_flags():
    # only the id placeholder offends; the vector column is generic data
    assert _scan(
        """
        def bad_assign(df, id_col, vec_col):
            def k(batches):
                yield None
            return df.mapInPandas(
                k, schema=f"{id_col} long, {vec_col} array<float>, c int"
            )
        """
    ) == ["{id_col} long"]


def test_red_unguarded_probe_frame_flags():
    assert _scan(
        """
        def bad_probe(queries, id_col):
            rows = [(int(r[0]), r[1]) for r in queries.collect()]
            return queries.sparkSession.createDataFrame(
                rows, schema="query_id long, q_vec array<float>"
            )
        """
    ) == ["query_id long"]


def test_red_hardcoded_structfield_flags():
    assert _scan(
        """
        def bad_struct(df, id_col):
            out_schema = StructType(
                [StructField("neighbor_id", LongType()),
                 StructField("score", DoubleType())]
            )
            return df.mapInPandas(k, schema=out_schema)
        """
    ) == ["neighbor_id LongType()"]


def test_red_stateful_output_schema_flags():
    assert _scan(
        """
        def bad_stateful(events, key_col="voter_id"):
            out_schema = f"{key_col} string, n bigint"
            return events.groupBy(key_col).applyInPandasWithState(
                u, outputStructType=out_schema, stateStructType="n bigint",
                outputMode="update", timeoutConf=None,
            )
        """
    ) == ["{key_col} string"]


def test_red_annotated_assignment_schema_flags():
    assert _scan(
        """
        def bad_annotated(df, id_col):
            out_schema: str = "query_id long, score double"
            return df.mapInPandas(k, schema=out_schema)
        """
    ) == ["query_id long"]


def test_red_tuple_unpacking_schema_flags():
    assert _scan(
        """
        def bad_tuple(df):
            sch, other = "neighbor_id long, s double", 1
            return df.mapInPandas(k, schema=sch)
        """
    ) == ["neighbor_id long"]


def test_red_keyword_structfield_flags():
    assert _scan(
        """
        def bad_kw_struct(df, key_col):
            out_schema = StructType(
                [StructField(name="query_id", dataType=LongType()),
                 StructField(dataType=T.StringType(), name=key_col)]
            )
            return df.mapInPandas(k, schema=out_schema)
        """
    ) == ["query_id LongType()", "{key_col} T.StringType()"]


def test_red_map_in_arrow_flags():
    assert _scan(
        """
        def bad_arrow(df, id_col):
            return df.mapInArrow(k, schema="query_id long, score double")
        """
    ) == ["query_id long"]


def test_red_aliased_schema_chain_flags():
    assert _scan(
        """
        def bad_alias(df):
            sch = "query_id long, score double"
            schema = sch
            return df.mapInPandas(k, schema=schema)
        """
    ) == ["query_id long"]


def test_red_module_level_call_flags_under_module_scope():
    assert _scan(
        """
        PROBE = spark.createDataFrame([(1,)], schema="query_id long")
        """
    ) == ["query_id long"]


def test_red_concat_schema_operand_flags():
    assert _scan(
        """
        def concatenated(df):
            sch = "query_id long"
            return df.mapInPandas(k, schema=sch + ", extra int")
        """
    ) == ["query_id long"]


def test_red_augmented_assignment_poisons_name_to_unresolved():
    """An id column appended with ``+=`` flags at its own literal."""
    assert _scan(
        """
        def bad_augmented(df, id_col):
            sch = "value double"
            sch += f", {id_col} long"
            return df.mapInPandas(k, schema=sch)
        """
    ) == ["{id_col} long"]


def test_red_module_constant_with_id_column_flags_resolved_columns():
    assert _scan(
        """
        OUT_SCHEMA = "query_id long, value double"

        def bad_module_constant(df):
            return df.mapInPandas(k, schema=OUT_SCHEMA)
        """
    ) == ["query_id long"]


def test_red_module_alias_chain_resolves_in_module_env():
    """A local of the same name does not hide the module constant's id."""
    assert _scan(
        """
        BASE = "query_id long, value double"
        OUT_SCHEMA = BASE

        def bad_module_alias(df):
            BASE = "value double"
            use(BASE)
            return df.mapInPandas(k, schema=OUT_SCHEMA)
        """
    ) == ["query_id long"]


def test_red_walrus_rebinding_poisons_alongside_plain_assignment():
    assert _scan(
        """
        def bad_walrus(df, id_col, wide):
            sch = "value double"
            if wide:
                use(sch := f"{id_col} long, value double")
            return df.mapInPandas(k, schema=sch)
        """
    ) == ["{id_col} long"]


def test_red_global_rebound_module_constant_is_poisoned():
    assert _scan(
        """
        OUT_SCHEMA = "value double"

        def setup(id_col):
            global OUT_SCHEMA
            OUT_SCHEMA = f"{id_col} long, value double"

        def bad_global_read(df):
            return df.mapInPandas(k, schema=OUT_SCHEMA)
        """
    ) == ["{id_col} long"]


def test_red_module_constant_resolves_when_nothing_shadows():
    assert _scan(
        """
        sch = "query_id long, value double"

        def bad_outer_read(df):
            return df.mapInPandas(k, schema=sch)
        """
    ) == ["query_id long"]


def test_red_inner_site_resolves_nested_defs_own_locals():
    clean = """
        def outer(df, spark):
            def k(batches):
                sch = "value double"
                yield spark.createDataFrame([], schema=sch)
            return df.mapInPandas(k, schema="value double")
        """
    assert _scan(clean) == []
    dirty = clean.replace('sch = "value double"', 'sch = "query_id long, value double"')
    assert _scan(dirty) == ["query_id long"]


def test_red_nonlocal_rebound_enclosing_local_is_poisoned():
    assert _scan(
        """
        def outer(df):
            sch = "value double"
            def setup(id_col):
                nonlocal sch
                sch = f"{id_col} long, value double"
            setup("query_id")
            return df.mapInPandas(k, schema=sch)
        """
    ) == ["{id_col} long"]


def test_red_default_arg_site_resolves_in_enclosing_scope():
    assert _scan(
        """
        def outer(df, spark):
            sch = "query_id long, value double"
            def k(batches, probe=spark.createDataFrame([(1,)], schema=sch)):
                sch = "value double"
                yield None
            return df.mapInPandas(k, schema="value double")
        """
    ) == ["query_id long"]


def test_red_class_body_site_flags_under_body_scope():
    assert _scan(
        """
        class Probes:
            FRAME = spark.createDataFrame([(1,)], schema="query_id long")
        """
    ) == ["query_id long"]


# -------------------------------------------------------- green fixtures (must NOT flag)


def test_green_module_constant_schema_resolves_without_finding():
    assert _scan(
        """
        OUT_SCHEMA = "value double, weight float"

        def fine_module_constant(df):
            return df.mapInPandas(k, schema=OUT_SCHEMA)
        """
    ) == []


def test_green_propagated_structfield_type_does_not_flag():
    """The kernel pattern: the id field's type is copied from the input."""
    assert _scan(
        """
        def adc_like(base, id_col, key_col):
            out_schema = StructType(
                [StructField("query_id", base.schema[id_col].dataType),
                 StructField(key_col, base.schema[key_col].dataType),
                 StructField("adc_dot", DoubleType())]
            )
            return base.mapInPandas(k, schema=out_schema)
        """
    ) == []


def test_green_non_id_placeholders_do_not_flag():
    assert _scan(
        """
        def grid_kernel(df, grid_col, idx_col):
            return df.mapInPandas(
                k, schema=f"{grid_col} double, {idx_col} int, n int"
            )
        """
    ) == []


def test_green_non_id_columns_do_not_flag():
    assert _scan(
        """
        def profile(df):
            return df.mapInPandas(k, schema="tokens int, lang string, grid double")
        """
    ) == []


def test_green_literal_key_substring_does_not_flag():
    """Id names match as whole identifiers, not as substrings."""
    assert _scan(
        """
        def zoo(df):
            return df.mapInPandas(
                k, schema="subquery_id long, neighbor_ids int, query_idx string"
            )
        """
    ) == []


def test_green_structtype_from_input_fields_does_not_flag():
    """The SRP pattern: schema = input fields + a non-id extra column."""
    assert _scan(
        """
        def srp_like(df, out_col):
            out_schema = StructType(
                list(df.schema.fields) + [StructField(out_col, LongType())]
            )
            return df.mapInPandas(k, schema=out_schema)
        """
    ) == []
