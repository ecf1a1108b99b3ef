"""Schema-evolution calculus unit tests (mirrors SchemaUtilsTest /
SchemaDerivatorTest / SelectorsTest / TableIdRouterTest layers)."""

import pytest
from pyspark.sql import types as T

from source_flink_cdc_3_5_0_spark.common import (
    AddColumnEvent,
    AlterColumnTypeEvent,
    Column,
    ColumnWithPosition,
    CreateTableEvent,
    DropColumnEvent,
    RenameColumnEvent,
    Schema,
    TableId,
)
from source_flink_cdc_3_5_0_spark.common.events import ColumnPosition
from source_flink_cdc_3_5_0_spark.common.tableid import Selectors
from source_flink_cdc_3_5_0_spark.operators.route import RouteRule, TableIdRouter
from source_flink_cdc_3_5_0_spark.operators.schema_evolution import (
    SchemaChangeBehavior,
    apply_schema_change_event,
    get_common_schema,
    lenientize,
    normalize_schema_change_events,
)
from source_flink_cdc_3_5_0_spark.operators.schema_registry import SchemaRegistry

TBL = TableId.parse("ns.db.t")
BASE = Schema.of(
    Column("id", T.IntegerType(), False),
    Column("name", T.StringType()),
    primary_keys=["id"],
)


class TestApplyEvents:
    def test_add_column_positions(self):
        s = apply_schema_change_event(BASE, AddColumnEvent(TBL, (
            ColumnWithPosition(Column("first", T.StringType()), ColumnPosition.FIRST),
            ColumnWithPosition(Column("afterid", T.StringType()), ColumnPosition.AFTER, "id"),
            ColumnWithPosition(Column("last", T.StringType())),
        )))
        assert s.column_names() == ["first", "id", "afterid", "name", "last"]

    def test_add_duplicate_rejected(self):
        with pytest.raises(ValueError):
            apply_schema_change_event(BASE, AddColumnEvent.last(TBL, Column("id", T.IntegerType())))

    def test_drop_rename_alter(self):
        s = apply_schema_change_event(BASE, RenameColumnEvent(TBL, (("name", "nm"),)))
        assert s.column_names() == ["id", "nm"]
        s = apply_schema_change_event(s, AlterColumnTypeEvent(TBL, (("id", T.LongType()),)))
        assert s.get_column("id").data_type == T.LongType()
        s = apply_schema_change_event(s, DropColumnEvent(TBL, ("nm",)))
        assert s.column_names() == ["id"]

    def test_rename_updates_pks(self):
        s = apply_schema_change_event(BASE, RenameColumnEvent(TBL, (("id", "pk"),)))
        assert s.primary_keys == ("pk",)


class TestLenient:
    def test_rename_becomes_add_plus_relax(self):
        s = Schema.of(Column("a", T.IntegerType(), False), Column("b", T.StringType()))
        events = lenientize(s, RenameColumnEvent(TBL, (("a", "a2"),)))
        assert isinstance(events[0], AddColumnEvent)
        assert events[0].added_columns[0].column.name == "a2"
        assert events[0].added_columns[0].column.nullable
        assert isinstance(events[1], AlterColumnTypeEvent)  # a relaxed nullable

    def test_drop_nullable_is_noop(self):
        s = Schema.of(Column("a", T.IntegerType()), Column("b", T.StringType()))
        assert lenientize(s, DropColumnEvent(TBL, ("a",))) == []

    def test_ignore_behavior_keeps_only_create(self):
        out = normalize_schema_change_events(
            BASE,
            [CreateTableEvent(TBL, BASE), DropColumnEvent(TBL, ("name",))],
            SchemaChangeBehavior.IGNORE,
        )
        assert len(out) == 1 and isinstance(out[0], CreateTableEvent)

    def test_include_exclude_filters(self):
        out = normalize_schema_change_events(
            BASE,
            [AddColumnEvent.last(TBL, Column("x", T.StringType()))],
            SchemaChangeBehavior.EVOLVE,
            excluded_types={"add_column"},
        )
        assert out == []


class TestCommonSchema:
    def test_widening_merge(self):
        a = Schema.of(Column("id", T.IntegerType(), False), Column("v", T.StringType()),
                      Column("priceAlpha", T.IntegerType()), primary_keys=["id"])
        b = Schema.of(Column("id", T.LongType(), False), Column("v", T.StringType()),
                      Column("priceBeta", T.DoubleType()), primary_keys=["id"])
        m = get_common_schema([a, b])
        assert m.column_names() == ["id", "v", "priceAlpha", "priceBeta"]
        assert m.get_column("id").data_type == T.LongType()
        assert m.get_column("priceAlpha").nullable  # missing in b
        assert m.primary_keys == ("id",)

    def test_type_conflict_falls_to_string(self):
        a = Schema.of(Column("x", T.BooleanType()))
        b = Schema.of(Column("x", T.IntegerType()))
        assert get_common_schema([a, b]).get_column("x").data_type == T.StringType()


class TestSelectorsAndRoutes:
    def test_selector_part_semantics(self):
        s = Selectors("mydb.\\.*")
        assert s.is_match(TableId.parse("mydb.orders"))
        assert not s.is_match(TableId.parse("ns.mydb.orders"))  # 2-part vs 3-part
        s3 = Selectors("ns.mydb.user_\\.*")
        assert s3.is_match(TableId.parse("ns.mydb.user_1"))
        assert not s3.is_match(TableId.parse("ns.mydb.admin"))

    def test_selector_comma_rules(self):
        s = Selectors("a.b.t1, a.b.t2")
        assert s.is_match(TableId.parse("a.b.t1"))
        assert s.is_match(TableId.parse("a.b.t2"))
        assert not s.is_match(TableId.parse("a.b.t3"))

    def test_route_replace_symbol(self):
        r = TableIdRouter([RouteRule("ns.db.\\.*", "sink.ods.ods_<>")])
        assert r.route(TableId.parse("ns.db.orders")) == (TableId.parse("sink.ods.ods_orders"),)

    def test_route_fanout_and_default(self):
        r = TableIdRouter([
            RouteRule("ns.db.t", "a.a.t1"),
            RouteRule("ns.db.\\.*", "a.a.all"),
        ])
        assert r.route(TableId.parse("ns.db.t")) == (
            TableId.parse("a.a.t1"), TableId.parse("a.a.all"))
        assert r.route(TableId.parse("other.db.t")) == (TableId.parse("other.db.t"),)


class TestRegistry:
    def test_versioning_and_checkpoint(self, tmp_path):
        reg = SchemaRegistry()
        reg.apply_original(CreateTableEvent(TBL, BASE))
        reg.apply_original(AddColumnEvent.last(TBL, Column("x", T.StringType())))
        assert reg.original_schema(TBL).column_names() == ["id", "name", "x"]
        assert len(reg.original.versions(TBL)) == 2
        p = str(tmp_path / "reg.json")
        reg.checkpoint(p)
        restored = SchemaRegistry.restore(p)
        assert restored.original_schema(TBL).column_names() == ["id", "name", "x"]
        assert restored.original_schema(TBL).primary_keys == ("id",)
