"""HeroQL front-end tests: the reference's query language
(Kernel/Drafts/draft, draft_students) parsed and compiled to
DataFrame plans.

Three layers:
1. language semantics on tiny inline tables — each scenario is a
   draft example (family rules draft:55-62, recursive Fib draft:81-84,
   students pipeline draft_students:36-53, mutations draft:128-136,
   for-query draft:138-143);
2. DuckDB-oracle hash checks for the four registered heroql_* queries
   at sf0.001 AND sf0.01 (driver-gate fidelity);
3. plan shape: a compiled rule body is ONE Catalyst plan with the
   filter pushed to the scan, no Python row UDFs anywhere.
"""

from __future__ import annotations

import pytest

from herodb_spark.heroql import HeroQL, HeroQLError
from herodb_spark.heroql.parser import HeroQLSyntaxError, parse
from herodb_spark.operators import heroql_ops as HQ
from tests.harness import compare, duckdb_con

ALL_SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


def rows(df):
    return sorted(tuple(r) for r in df.collect())


# ------------------------------------------------------------ language


def test_family_rules_draft_55_62(spark):
    """The draft's Spouses program verbatim (modulo field-name case):
    class row vars, field deref, enum constants."""
    hql = HeroQL(spark)
    hql.run("""
        enum Gender = Male | Female;
        data class Person
        (
            name    : string,
            id      : int,
            gender  : Gender,
        )
        index   Ordered(name),
                Hash(id), Unique(id)
        ;
        data Parents(child : Person, parent : Person);
        set Parents(1, 10);
        set Parents(1, 11);
        set Parents(2, 10);
        set Parents(2, 11);

        data Spouses(husband : Person, wife : Person);
        Spouses(husband, wife) :-
            Person(child),
            Parents(child, husband), husband.gender == Gender.Male,
            Parents(child, wife), wife.gender == Gender.Female
            ;
    """)
    people = spark.createDataFrame(
        [("Bob", 1, "Male"), ("Alice", 2, "Female"), ("Jeff", 10, "Male"), ("Kate", 11, "Female")],
        "name string, id long, gender string",
    )
    hql.register("Person", people, is_class=True, key="id")
    assert rows(hql.table("Spouses")) == [(10, 11)]


def test_recursive_fib_draft_81_84(spark):
    hql = HeroQL(spark, max_iters=16)
    res = hql.run("""
        func Fib(in i, out o);
        case Fib(1, 1);
        case Fib(2, 1);
        case Fib(a, b) :- Fib(a-1, x), Fib(a-2, y), b = x + y;
        query (o) :- Fib(10, o);
    """)
    assert rows(res.queries[0]) == [(55,)]


def test_nonground_fact_rejected(spark):
    """draft:87's accumulator base case is top-down; bottom-up safety
    requires ground facts — must fail loudly, not silently."""
    hql = HeroQL(spark)
    with pytest.raises(HeroQLError, match="range-restricted"):
        hql.run("case Fib_(a, b, index, index, b);")


def test_students_pipeline_draft_students_36_53(spark):
    hql = HeroQL(spark)
    exams = spark.createDataFrame(
        [("s1", "e1", 90), ("s2", "e1", 80), ("s3", "e1", 70), ("s4", "e1", 60),
         ("s1", "e2", 50), ("s2", "e2", 100), ("s3", "e2", 95), ("s4", "e2", 40)],
        "student string, exam string, score long",
    )
    hql.register("AttendExam", exams)
    top3 = hql.run("""
        collection_query(student, exam, score) :-
            AttendExam(student, exam, score)
        partition_by exam(student, exam, OrderByDesc(score, 3))
        ;
    """).queries[0]
    got = rows(top3)
    assert len(got) == 6
    assert ("s4", "e1", 60) not in got and ("s4", "e2", 40) not in got

    piped = hql.run("""
        collection_query(student, score) :-
            AttendExam(student, _, score)
        partition_by student(student, sample_score = OrderByDesc(score, 1))
        group_by student(student, average_score = Average(sample_score))
            :- average_score > 85
        order_by average_score
        range_by 1..2;
    """).queries[0]
    assert [tuple(r) for r in piped.collect()] == [("s1", 90.0), ("s3", 95.0)]


def test_where_stage_and_count(spark):
    """draft_students:42-46 — count of 100-scores per student."""
    hql = HeroQL(spark)
    exams = spark.createDataFrame(
        [("s1", "e1", 100), ("s1", "e2", 100), ("s2", "e1", 100), ("s2", "e2", 99)],
        "student string, exam string, score long",
    )
    hql.register("AttendExam", exams)
    res = hql.run("""
        collection_query(student, score) :-
            AttendExam(student, _, score)
        where score == 100
        group_by student(student, count = Count(score))
        ;
    """).queries[0]
    assert rows(res) == [("s1", 2), ("s2", 1)]


def test_mutations_draft_128_136(spark):
    hql = HeroQL(spark)
    hql.run("""
        data T(a : int, b : int, c : int);
        set T(1, 1, 0);
        set T(1, 2, 0);
        set T(3, 3, 0);
        update T(a, b, c) :- a == b, c = a + b;
        remove T(a, b, _) :- a != b;
    """)
    assert rows(hql.table("T")) == [(1, 1, 2), (3, 3, 6)]


def test_remove_all_and_constants(spark):
    hql = HeroQL(spark)
    hql.run("""
        data T(a : int, b : int);
        set T(1, 1);
        set T(2, 2);
        remove T(1, 1);
    """)
    assert rows(hql.table("T")) == [(2, 2)]
    hql.run("remove T;")
    assert rows(hql.table("T")) == []


def test_not_exists(spark):
    hql = HeroQL(spark)
    hql.register("Orders", spark.createDataFrame([(1, 100), (2, 100), (3, 200)], "oid long, cust long"))
    hql.register("Cust", spark.createDataFrame([(100, "a"), (200, "b"), (300, "c")], "cid long, cname string"))
    anti = hql.run("query (cid, cname) :- Cust(cid, cname), not Orders(_, cid);").queries[0]
    assert rows(anti) == [(300, "c")]
    semi = hql.run("query (cname) :- Cust(cid, cname), exists Orders(_, cid);").queries[0]
    assert rows(semi) == [("a",), ("b",)]


def test_if_then_else_and_assignment(spark):
    hql = HeroQL(spark)
    hql.register("V", spark.createDataFrame([(1,), (10,)], "x long"))
    res = hql.run("""
        query (x, tier) :- V(x), tier = if x >= 5 then "big" else "small";
    """).queries[0]
    assert rows(res) == [(1, "small"), (10, "big")]


def test_for_query_relation_member_draft_138_143(spark):
    hql = HeroQL(spark)
    hql.run("""
        data class Person
        (
            name : string,
            id   : int,
            parents * children : Person, n..n,
        ) index Hash(id), Unique(id);
        data Flagged(person : Person);
    """)
    hql.register(
        "Person",
        spark.createDataFrame([("Bob", 1), ("Jeff", 10), ("Kate", 11)], "name string, id long"),
        is_class=True, key="id",
    )
    hql.register("Person__parents", spark.createDataFrame([(1, 10), (1, 11)], "src long, dst long"))
    hql.run("""
        for query(person) :-
            Person(person), exists person.children(_)
        (
            set Flagged(person)
        )
    """)
    assert rows(hql.table("Flagged")) == [(10,), (11,)]
    # forward member atom: Bob's parents
    res = hql.run("query (p) :- Person(me), me.name == \"Bob\", me.parents(p);").queries[0]
    assert rows(res) == [(10,), (11,)]


def test_symmetric_relation_and_cardinality_draft_36_38(spark):
    """`spouse * spouse : Person, 1..1`: self-inverse member reads in
    both directions (a.spouse == b ⇒ b.spouse == a) and the 1..1
    cardinality rejects a second spouse; `manages * manager, n..1`
    caps the manager side at one."""
    hql = HeroQL(spark)
    hql.run("""
        data class Person
        (
            name : string,
            id   : int,
            spouse * spouse   : Person, 1..1,
            manages * manager : Person, n..1,
        ) index Hash(id), Unique(id);
        data Pairs(a : int, b : int);
        set Pairs(1, 2);
    """)
    hql.register(
        "Person",
        spark.createDataFrame(
            [("Ann", 1), ("Bob", 2), ("Cat", 3)], "name string, id long"),
        is_class=True, key="id",
    )
    hql.run("""
        for query(a, b) :- Pairs(a, b), Person(p), p.id == a
        (
            set p.spouse(b)
        )
    """)
    # symmetric read: both directions visible from ONE stored row
    res = hql.run("query (s) :- Person(p), p.name == \"Bob\", p.spouse(s);").queries[0]
    assert rows(res) == [(1,)]
    # second spouse for person 1 violates 1..1
    hql.run("set Pairs(1, 3);")
    with pytest.raises(HeroQLError, match="cardinality"):
        hql.run("""
            for query(a, b) :- Pairs(a, b), Person(p), p.id == a
            (
                set p.spouse(b)
            )
        """)
    # n..1: two managers for one report violates the dst side
    hql.run("""
        data M(boss : int, rep : int);
        set M(1, 3);
        set M(2, 3);
    """)
    with pytest.raises(HeroQLError, match="cardinality"):
        hql.run("""
            for query(a, b) :- M(a, b), Person(p), p.id == a
            (
                set p.manages(b)
            )
        """)


def test_symmetric_restatement_is_one_edge(spark):
    """Restating a symmetric fact from the other side must dedup into
    ONE logical edge (canonical storage), not violate 1..1."""
    hql = HeroQL(spark)
    hql.run("""
        data class Person
        (
            name : string,
            id   : int,
            spouse * spouse : Person, 1..1,
        ) index Hash(id), Unique(id);
        data P2(a : int, b : int);
        set P2(1, 2);
        set P2(2, 1);
    """)
    hql.register(
        "Person",
        spark.createDataFrame([("Ann", 1), ("Bob", 2)], "name string, id long"),
        is_class=True, key="id",
    )
    hql.run("""
        for query(a, b) :- P2(a, b), Person(p), p.id == a
        (
            set p.spouse(b)
        )
    """)
    assert rows(hql.table("Person__spouse")) == [(1, 2)]
    res = hql.run("query (s) :- Person(p), p.name == \"Ann\", p.spouse(s);").queries[0]
    assert rows(res) == [(2,)]


def test_inverse_member_cardinality_orientation(spark):
    """`manages * manager, n..1` written through the INVERSE member:
    many reports per boss is legal; two bosses for one report is the
    violation — and a rejected insert must leave the edge table
    unchanged."""
    hql = HeroQL(spark)
    hql.run("""
        data class Person
        (
            name : string,
            id   : int,
            manages * manager : Person, n..1,
        ) index Hash(id), Unique(id);
        data M2(rep : int, boss : int);
        set M2(2, 1);
        set M2(3, 1);
    """)
    hql.register(
        "Person",
        spark.createDataFrame(
            [("A", 1), ("B", 2), ("C", 3), ("D", 4)], "name string, id long"),
        is_class=True, key="id",
    )
    # two reports, one boss — legal under n..1, written via rep.manager
    hql.run("""
        for query(r, b) :- M2(r, b), Person(p), p.id == r
        (
            set p.manager(b)
        )
    """)
    assert rows(hql.table("Person__manages")) == [(1, 2), (1, 3)]
    # a second boss for report 2 violates, and nothing is committed
    hql.run("data M3(rep : int, boss : int); set M3(2, 4);")
    with pytest.raises(HeroQLError, match="cardinality"):
        hql.run("""
            for query(r, b) :- M3(r, b), Person(p), p.id == r
            (
                set p.manager(b)
            )
        """)
    assert rows(hql.table("Person__manages")) == [(1, 2), (1, 3)]


def test_for_query_set_respects_where(spark):
    hql = HeroQL(spark)
    hql.run("""
        data S(a : int, b : int) where a < b;
        data Src(x : int);
        set Src(3);
    """)
    with pytest.raises(HeroQLError, match="where"):
        hql.run("for query(x) :- Src(x) ( set S(x, x) )")
    assert rows(hql.table("S")) == []


def test_incremental_rebuild_on_negated_derived_table(spark):
    """`not B(x)` where B is itself rule-derived: inserts into B's
    BASE must rebuild the memo, not report it maintained."""
    hql = HeroQL(spark)
    hql.register("A", spark.createDataFrame([(1,)], "x long"))
    hql.register("T", spark.createDataFrame([(9,)], "x long"))
    hql.run("""
        data B(x : int);
        B(x) :- T(x);
        data R(x : int);
        R(x) :- A(x), not B(x);
    """)
    assert rows(hql.table("R")) == [(1,)]
    hql.run("data T(x : int); set T(1);")
    assert rows(hql.table("R")) == []  # stale memo would still say [(1,)]


def test_delta_log_pruned_after_absorption(spark):
    hql = HeroQL(spark)
    hql.register("L", spark.createDataFrame([(1, 5)], "n long, c long"))
    hql.run("""
        data Big(n : int);
        Big(n) :- L(n, c), c >= 5;
    """)
    hql.table("Big")
    hql.run("data L(n : int, c : int); set L(2, 7);")
    assert rows(hql.table("Big")) == [(1,), (2,)]
    assert hql._delta_log == []  # absorbed entries pruned


def test_union_cases_distinct(spark):
    """Two rule cases for one head — Datalog set semantics dedups."""
    hql = HeroQL(spark)
    hql.register("E", spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long"))
    hql.run("""
        data Touch(n : int);
        Touch(a) :- E(a, _);
        Touch(b) :- E(_, b);
    """)
    assert rows(hql.table("Touch")) == [(1,), (2,), (3,)]


def test_collect_aggregation(spark):
    hql = HeroQL(spark)
    hql.register("S", spark.createDataFrame(
        [("g1", 3), ("g1", 1), ("g2", 2)], "g string, v long"))
    res = hql.run("""
        collection_query(g, v) :- S(g, v)
        group_by g(g, vs = Collect(v))
        ;
    """).queries[0]
    assert rows(res) == [("g1", "1|3"), ("g2", "2")]


def test_ensure_violation_raises(spark):
    hql = HeroQL(spark)
    hql.register("V", spark.createDataFrame([(1,), (10,)], "x long"))
    with pytest.raises(HeroQLError, match="ensure"):
        hql.run("query (x) :- V(x), ensure x < 5;")


def test_where_constraint_on_insert(spark):
    """draft:48-52 `where husband != wife` rejects violating facts."""
    hql = HeroQL(spark)
    hql.run("data S(h : int, w : int) where h != w;")
    hql.run("set S(1, 2);")
    assert rows(hql.table("S")) == [(1, 2)]
    with pytest.raises(HeroQLError, match="where"):
        hql.run("set S(3, 3);")
        hql.table("S")


def test_incremental_maintenance_inserts(spark):
    """Insert deltas fold into a memoized derivation via the delta
    rule (work ∝ delta); result equals a cold full evaluation."""
    hql = HeroQL(spark)
    hql.register("E", spark.createDataFrame([(1, 2), (2, 3)], "a long, b long"))
    hql.register("L", spark.createDataFrame([(2, 7), (3, 8)], "n long, c long"))
    hql.run("""
        data J(a : int, c : int);
        J(a, c) :- E(a, b), L(b, c);
    """)
    assert rows(hql.table("J")) == [(1, 7), (2, 8)]  # builds the memo
    hql.run("""
        data E(a : int, b : int);
        data L(n : int, c : int);
        set E(5, 3);
        set L(2, 9);
    """)
    got = rows(hql.table("J"))
    assert hql._incremental_hits >= 1
    # cold evaluation for comparison
    cold = HeroQL(spark)
    cold.register("E", spark.createDataFrame([(1, 2), (2, 3), (5, 3)], "a long, b long"))
    cold.register("L", spark.createDataFrame([(2, 7), (3, 8), (2, 9)], "n long, c long"))
    cold.run("data J(a : int, c : int); J(a, c) :- E(a, b), L(b, c);")
    assert got == rows(cold.table("J"))


def test_incremental_fallback_on_negation(spark):
    """Inserts into a negated table can REMOVE derived rows — the
    memo must rebuild, not maintain."""
    hql = HeroQL(spark)
    hql.register("L", spark.createDataFrame([(1, 0), (2, 0)], "n long, c long"))
    hql.register("E", spark.createDataFrame([(2, 9)], "a long, b long"))
    hql.run("""
        data NoOut(n : int);
        NoOut(n) :- L(n, _), not E(n, _);
    """)
    assert rows(hql.table("NoOut")) == [(1,)]
    before = hql._incremental_hits
    hql.run("data E(a : int, b : int); set E(1, 5);")
    assert rows(hql.table("NoOut")) == []  # row 1 correctly disappears
    assert hql._incremental_hits == before  # rebuild path, not maintenance


def test_incremental_wiped_by_update(spark):
    hql = HeroQL(spark)
    hql.register("L", spark.createDataFrame([(1, 5)], "n long, c long"))
    hql.run("""
        data Big(n : int);
        Big(n) :- L(n, c), c >= 5;
    """)
    assert rows(hql.table("Big")) == [(1,)]
    hql.run("data L(n : int, c : int); update L(n, c) :- c = 0;")
    assert rows(hql.table("Big")) == []


def test_uncache_invalidates_memo(spark):
    """draft:67-72/135-136: cached computation tables recompute after
    uncache + base mutation."""
    hql = HeroQL(spark)
    hql.run("""
        data Base(x : int);
        set Base(1);
        data Derived(x : int);
        Derived(y) :- Base(x), y = x * 10;
    """)
    assert rows(hql.table("Derived")) == [(10,)]
    hql.run("set Base(2); uncache Derived;")
    assert rows(hql.table("Derived")) == [(10,), (20,)]


def test_syntax_error_position(spark):
    with pytest.raises(HeroQLSyntaxError):
        parse("data (x : int);")


def test_linear_recursion_seminaive(spark):
    """Transitive closure — a LINEAR recursive rule set takes the
    semi-naive path (delta-driven; per-round work ∝ frontier)."""
    hql = HeroQL(spark, max_iters=16)
    hql.register("Edge", spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "a long, b long"))
    res = hql.run("""
        data Reach(x : int, y : int);
        Reach(x, y) :- Edge(x, y);
        Reach(x, z) :- Reach(x, y), Edge(y, z);
        query (x, y) :- Reach(x, y);
    """)
    got = rows(res.queries[0])
    assert got == [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (10, 11)]
    # since round 8 EVERY recursive SCC is semi-naive; the delta-probe
    # tests below pin that rounds join deltas, not the full state


def test_linear_recursion_with_cycle_terminates(spark):
    """A cyclic graph converges via the exceptAll state subtraction
    (no new facts → fixpoint), not the max_iters cap."""
    hql = HeroQL(spark, max_iters=30)
    hql.register("Edge", spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "a long, b long"))
    res = hql.run("""
        data Reach(x : int, y : int);
        Reach(x, y) :- Edge(x, y);
        Reach(x, z) :- Reach(x, y), Edge(y, z);
        query (x, y) :- Reach(x, y);
    """)
    assert len(rows(res.queries[0])) == 9  # complete digraph on the 3-cycle


def test_unstratified_negation_rejected(spark):
    """`not` over a table in the same recursive component has no
    well-defined bottom-up semantics — must error, not silently pick
    an arbitrary fixpoint."""
    hql = HeroQL(spark)
    hql.register("E", spark.createDataFrame([(1, 2)], "a long, b long"))
    hql.run("""
        data Win(x : int);
        Win(x) :- E(x, y), not Win(y);
    """)
    with pytest.raises(HeroQLError, match="unstratified"):
        hql.table("Win")


def test_stratified_negation_still_works(spark):
    """Negation over a LOWER stratum (a non-recursive derived table)
    is fine."""
    hql = HeroQL(spark)
    hql.register("E", spark.createDataFrame([(1, 2), (2, 3)], "a long, b long"))
    res = hql.run("""
        data Sink(n : int);
        Sink(b) :- E(_, b), not E(b, _);
        data Reach(x : int, y : int);
        Reach(x, y) :- E(x, y);
        Reach(x, z) :- Reach(x, y), E(y, z);
        query (x, y) :- Reach(x, y), not Sink(y);
    """)
    assert rows(res.queries[0]) == [(1, 2)]


def test_mutual_recursion_two_tables(spark):
    """Even/Odd mutual recursion through one SCC fixpoint."""
    hql = HeroQL(spark, max_iters=12)
    res = hql.run("""
        func Even(in n);
        func Odd(in n);
        case Even(0);
        case Odd(n) :- Even(n-1), n <= 9;
        case Even(n) :- Odd(n-1), n <= 9;
        query (n) :- Even(n);
    """)
    assert rows(res.queries[0]) == [(0,), (2,), (4,), (6,), (8,)]


def test_update_respects_where_constraint(spark):
    """A rewrite must not smuggle in rows `set` would reject."""
    hql = HeroQL(spark)
    hql.run("data S2(h : int, w : int) where h != w; set S2(1, 2);")
    with pytest.raises(HeroQLError, match="where"):
        hql.run("update S2(h, w) :- w = h;")


def test_string_escape_decoding(spark):
    hql = HeroQL(spark)
    hql.register("T", spark.createDataFrame([('a"b',), ("x\\y",)], "s string"))
    res = hql.run('query (s) :- T(s), s == "a\\"b";').queries[0]
    assert rows(res) == [('a"b',)]
    res2 = hql.run('query (s) :- T(s), s == "x\\\\y";').queries[0]
    assert rows(res2) == [("x\\y",)]


def test_orderby_without_k_keeps_all_rows(spark):
    """OrderByDesc(score) with no k is a pure sequence function
    (draft:162), not a silent top-0 filter."""
    hql = HeroQL(spark)
    hql.register("S", spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "g string, v long"))
    res = hql.run("""
        collection_query(g, v) :- S(g, v)
        partition_by g(g, s = OrderByDesc(v))
        ;
    """).queries[0]
    assert len(res.collect()) == 3


def test_groupby_passthrough_only_is_distinct_keys(spark):
    hql = HeroQL(spark)
    hql.register("S", spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "g string, v long"))
    res = hql.run("""
        collection_query(g, v) :- S(g, v)
        group_by g(g)
        ;
    """).queries[0]
    assert res.columns == ["g"]
    assert rows(res) == [("a",), ("b",)]


def test_array_sugar_and_keyword_fields_parse(spark):
    """draft_students:3-14: `classes : Class[]` array sugar and field
    names that collide with keywords."""
    prog = parse("""
        data class Grade
        (
            startYear : int,
            classes : Class[]
        ) index Ordered(startYear);
        data T(class : string);
    """)
    assert prog.items[0].fields[1].name == "classes"
    assert prog.items[1].fields[0].name == "class"


def test_update_enum_member_validated(spark):
    hql = HeroQL(spark)
    hql.run("""
        enum Status = Ok | Bad;
        data T(s : Status, x : int);
        set T(Ok, 1);
    """)
    with pytest.raises(HeroQLError, match="no member"):
        hql.run("update T(s, x) :- s == Status.Typo, x = 2;")


def test_comparison_before_atom_raises_heroql_error(spark):
    hql = HeroQL(spark)
    hql.register("T", spark.createDataFrame([(1,)], "x long"))
    with pytest.raises(HeroQLError, match="before any atom"):
        hql.run("query (x) :- ensure 1 == 1, T(x);")


def test_struct_pattern_matching_draft_120_126(spark):
    """`Type{p1, p2}` constructor patterns against the relational ADT
    encoding (union term table = id/tag/constructor-fields, the
    operators/adt.py layout): tag dispatch + field binds + one join
    per nesting level. The term list [1,2,3] is draft:21-23's
    `union List = Head | End`."""
    hql = HeroQL(spark)
    hql.run("""
        struct Head(head : int, next : List);
        struct End();
        union List = Head | End;
        data List(id : int, tag : string, head : int, next : int);
        set List(0, "End", 0, 0);
        set List(1, "Head", 3, 0);
        set List(2, "Head", 2, 1);
        set List(3, "Head", 1, 2);
        data Cell(cid : int, v : List);
        set Cell(10, 3);
        set Cell(11, 0);
    """)
    # first two elements via a nested pattern
    res = hql.run("query (cid, h, h2) :- Cell(cid, Head{h, Head{h2, _}});").queries[0]
    assert rows(res) == [(10, 1, 2)]
    # tag dispatch: cells holding the empty list
    res2 = hql.run("query (cid) :- Cell(cid, End{});").queries[0]
    assert rows(res2) == [(11,)]
    # constant sub-pattern filters
    res3 = hql.run("query (cid) :- Cell(cid, Head{1, _});").queries[0]
    assert rows(res3) == [(10,)]


def test_namespace_and_using_draft_168_186(spark):
    """Declarations inside `namespace` register qualified; unqualified
    references resolve innermost-out and through `using namespace`."""
    hql = HeroQL(spark)
    hql.run("""
        namespace Warehouse
        {
            enum Status = Ok | Bad;
            data Items(sku : int, status : Status);
            set Items(1, Ok);
            set Items(2, Bad);
            data Good(sku : int);
            Good(s) :- Items(s, status), status == Status.Ok;
        }
    """)
    # absolute qualified access from outside the namespace
    assert rows(hql.table("Warehouse::Good")) == [(1,)]
    # `using` makes the short names visible
    res = hql.run("""
        using namespace Warehouse;
        query (s) :- Good(s);
    """)
    assert rows(res.queries[0]) == [(1,)]


def test_type_declarations_draft_1_24(spark):
    """struct / union / class-with-inheritance TYPE declarations parse
    and record (the relational encodings live in operators/adt.py —
    adt_list_ops and class_hierarchy)."""
    hql = HeroQL(spark)
    hql.run("""
        struct Point
        (
            x : int,
            y : int
        );
        enum Operator = Add | Sub | Mul | Div;
        class Expression();
        class BinaryExpression : Expression
        (
            left    : Expression,
            right   : Expression,
            op      : Operator,
        );
        struct Head(head : int, next : List);
        struct End();
        union List = Head | End;
    """)
    assert hql.types["Point"]["fields"] == [("x", "int"), ("y", "int")]
    assert hql.types["BinaryExpression"]["base"] == "Expression"
    assert hql.types["List"] == {"kind": "union", "members": ["Head", "End"]}
    assert hql.enums["Operator"] == ["Add", "Sub", "Mul", "Div"]


def test_namespace_class_block_form(spark):
    """draft:170-186 block-form classes inside namespaces, with an
    absolute `Nodes::Node` member type reference."""
    hql = HeroQL(spark)
    hql.run("""
        namespace Nodes
        {
            class Node { }
        }
        using namespace Nodes;
        namespace Program
        {
            class TestCase
            {
                a : Node;
                b : Nodes::Node;
            }
        }
    """)
    tc = hql.types["Program::TestCase"]
    assert tc["fields"] == [("a", "Nodes::Node"), ("b", "Nodes::Node")]


# ------------------------------------------------------------ oracle gate


@pytest.mark.parametrize("sf", ALL_SF_DIRS, ids=["sf0.001", "sf0.01"])
@pytest.mark.parametrize(
    "fn,sql",
    [
        (HQ.heroql_rules, HQ.HEROQL_RULES_SQL),
        (HQ.heroql_pipeline, HQ.HEROQL_PIPELINE_SQL),
        (HQ.heroql_programs, HQ.HEROQL_PROGRAMS_SQL),
        (HQ.heroql_recursive, HQ.HEROQL_RECURSIVE_SQL),
        (HQ.heroql_mutations, HQ.HEROQL_MUTATIONS_SQL),
    ],
    ids=["rules", "pipeline", "programs", "recursive", "mutations"],
)
def test_heroql_oracle(spark, fn, sql, sf):
    con = duckdb_con(sf)
    try:
        res = compare(fn(spark, sf), sql, con)
        assert res["ok"], res
    finally:
        con.close()


def test_heroql_rules_nonempty(spark):
    """Both rule cases must actually fire on the testdata (an empty
    branch would make the oracle check vacuous)."""
    df = HQ.heroql_rules(spark, "/root/testdata/sf0.001")
    whys = {r["why"] for r in df.select("why").distinct().collect()}
    assert whys == {"no_urgent", "negative"}


def test_cli_runner(spark, tmp_path):
    """python -m herodb_spark.heroql — program file against the
    testdata catalog, results printed per query."""
    import contextlib
    import io

    from herodb_spark.heroql.__main__ import main

    prog = tmp_path / "p.hql"
    prog.write_text("""
        data Big(k : int, total : float);
        Big(o, t) :- orders(o, _, _, t, _, _), t > 400000.0;
        let big = query (k, total) :- Big(k, total);
    """)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main([str(prog), "--data", "/root/testdata/sf0.001", "--max-rows", "5"], spark=spark)
    assert rc == 0
    out = buf.getvalue()
    assert out.startswith("-- big (k, total)")
    assert len(out.strip().splitlines()) >= 2  # header + at least one row


def test_streaming_base_table(spark, sf_dir, tmp_path):
    """HeroQL programs run unchanged over STREAMS: registering a
    readStream DataFrame as a base table makes a collection_query
    (filter + group_by stages) a streaming query — the language
    compiles to plain DataFrame ops, so Structured Streaming's
    batch/stream parity carries over for free. partition_by /
    range_by (window row_number) are batch-only, as in Spark
    itself."""
    from herodb_spark.catalog import load_table
    from herodb_spark.streaming.ops import stream_events

    prog = """
        collection_query(user_id, value) :-
            ev(_, _, user_id, "purchase", value, _)
        where value > 50.0
        group_by user_id(user_id, total = Sum(value))
        ;
    """
    hql = HeroQL(spark)
    hql.register("ev", stream_events(spark, sf_dir))
    sdf = hql.run(prog).queries[0]
    assert sdf.isStreaming
    q = (
        sdf.writeStream.format("memory").queryName("hql_stream")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {(r["user_id"], round(r["total"], 2)) for r in spark.sql("SELECT * FROM hql_stream").collect()}

    batch = HeroQL(spark)
    batch.register("ev", load_table(spark, sf_dir, "events"))
    want = {
        (r["user_id"], round(r["total"], 2))
        for r in batch.run(prog).queries[0].collect()
    }
    assert got == want and got


# ------------------------------------------------------------ plan shape


def test_rule_compiles_to_single_plan_no_udf(spark):
    """A HeroQL rule is ONE declarative plan: constant filters reach
    the scan side (pushable) and no Python eval nodes appear."""
    hql = HeroQL(spark)
    from herodb_spark.catalog import load_table

    hql.register("Cust", load_table(spark, "/root/testdata/sf0.001", "customer"))
    df = hql.run("""
        query (c, bal) :- Cust(c, _, _, bal, _), bal < 0.0;
    """).queries[0]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "c_acctbal" in opt  # predicate survives into the optimized plan


# ------------------------------------------------------------ draft_type
# dialect: let Type{...} / ensure set / if not set ... then / nested
# for x.member(y) ( ... ) / $"..." interpolation (draft_type:183-341)


def _install_fixture(spark):
    hql = HeroQL(spark)
    hql.run("""
        data class Prog(pid : int, pname : string, declarations * owner : Decl, n..n) index Unique(pid);
        data class Decl(did : int, dname : string) index Unique(did);
        data class Scope(sid : int, parent : int) index AutoIncresed(sid), Unique(sid);
        data AstScopes(scope : int, node : int) index Unique(scope, node);
        data Symbols(scope : int, sname : string, stype : string, createdBy : int)
            index Unique(scope, sname);
        data Errors(message : string);
    """)
    hql.register(
        "Prog",
        spark.createDataFrame([(1, "main"), (2, "aux")], "pid long, pname string"),
        is_class=True, key="pid",
    )
    hql.register(
        "Decl",
        spark.createDataFrame(
            [(10, "f"), (11, "g"), (12, "f"), (20, "h"), (21, "h")], "did long, dname string"
        ),
        is_class=True, key="did",
    )
    hql.register(
        "Prog__declarations",
        spark.createDataFrame([(1, 10), (1, 11), (1, 12), (2, 20), (2, 21)], "src long, dst long"),
    )
    return hql


INSTALL_PROGRAM = """
for query(p) :- Prog(p)
(
    let scope = Scope{ parent = 0 },
    ensure set AstScopes(scope, p),
    if not set Symbols(scope, "int", "Int", p) then set Errors($"int clash in $(p)"),
    for p.declarations(decl)
    (
        if not set Symbols(scope, decl.dname, $"Fn($(decl.dname))", decl)
            then set Errors($"Duplicated function $(decl.dname) found.")
    )
);
"""


def test_install_program_draft_type_193_207(spark):
    """A trimmed Install_1 (draft_type:193-207, 318-326) runs end to
    end: per-program scopes with fresh AutoIncresed ids, ensure-set
    AstScopes, first-wins Symbols installs, duplicate diagnostics with
    $-interpolated messages — and every produced table hash-matches a
    DuckDB oracle over the same inputs."""
    import duckdb

    hql = _install_fixture(spark)
    hql.run(INSTALL_PROGRAM)

    con = duckdb.connect()
    con.execute("CREATE TABLE prog AS SELECT * FROM (VALUES (1), (2)) t(pid)")
    con.execute(
        "CREATE TABLE decl AS SELECT * FROM (VALUES (10,'f'),(11,'g'),(12,'f'),(20,'h'),(21,'h')) t(did, dname)"
    )
    con.execute(
        "CREATE TABLE edges AS SELECT * FROM (VALUES (1,10),(1,11),(1,12),(2,20),(2,21)) t(src, dst)"
    )
    scopes_cte = """
scopes AS (SELECT pid, ROW_NUMBER() OVER (ORDER BY pid) AS sid FROM prog),
cand AS (
  SELECT s.sid AS scope, d.dname AS sname, 'Fn(' || d.dname || ')' AS stype, d.did AS createdBy,
         ROW_NUMBER() OVER (PARTITION BY s.sid, d.dname ORDER BY e.src, s.sid, e.dst) AS rk
  FROM edges e JOIN scopes s ON e.src = s.pid JOIN decl d ON e.dst = d.did
)
"""
    res = compare(hql.table("Scope"), f"WITH {scopes_cte} SELECT sid, 0 AS parent FROM scopes", con)
    assert res["ok"], res
    res = compare(
        hql.table("AstScopes"), f"WITH {scopes_cte} SELECT sid AS scope, pid AS node FROM scopes", con
    )
    assert res["ok"], res
    res = compare(
        hql.table("Symbols"),
        f"""WITH {scopes_cte}
        SELECT sid AS scope, 'int' AS sname, 'Int' AS stype, pid AS createdBy FROM scopes
        UNION ALL
        SELECT scope, sname, stype, createdBy FROM cand WHERE rk = 1""",
        con,
    )
    assert res["ok"], res
    res = compare(
        hql.table("Errors"),
        f"WITH {scopes_cte} SELECT 'Duplicated function ' || sname || ' found.' AS message FROM cand WHERE rk > 1",
        con,
    )
    assert res["ok"], res
    con.close()


def test_install_semantics_pinned(spark):
    """The law-level assertions behind the oracle: first-wins installs,
    loser rows become diagnostics, ensure-set never errors, fresh ids
    are dense per driving order."""
    hql = _install_fixture(spark)
    hql.run(INSTALL_PROGRAM)
    assert rows(hql.table("Scope")) == [(1, 0), (2, 0)]
    assert rows(hql.table("AstScopes")) == [(1, 1), (2, 2)]
    syms = rows(hql.table("Symbols"))
    assert (1, "f", "Fn(f)", 10) in syms and (2, "h", "Fn(h)", 20) in syms
    assert not any(r[3] in (12, 21) for r in syms), "a losing install landed in Symbols"
    assert sorted(r[0] for r in rows(hql.table("Errors"))) == [
        "Duplicated function f found.",
        "Duplicated function h found.",
    ]
    # running the SAME install again: fresh Scope ids CONTINUE past the
    # existing max (AutoIncresed), so each program gets a NEW scope and
    # its installs succeed there — exactly the draft's instance
    # semantics (a second Install builds a second scope tree); only the
    # in-batch duplicates error again
    hql.run(INSTALL_PROGRAM)
    assert rows(hql.table("Scope")) == [(1, 0), (2, 0), (3, 0), (4, 0)]
    assert rows(hql.table("AstScopes")) == [(1, 1), (2, 2), (3, 1), (4, 2)]
    assert len(rows(hql.table("Symbols"))) == 10
    # Errors is a `data` table — a SET of messages (draft_type:179):
    # the second round's diagnostics are textually identical facts, so
    # the set is unchanged
    assert sorted(r[0] for r in rows(hql.table("Errors"))) == [
        "Duplicated function f found.",
        "Duplicated function h found.",
    ]


def test_let_ctor_requires_autoincresed(spark):
    hql = HeroQL(spark)
    hql.run("""
        data class Box(bid : int) index Unique(bid);
        data Seen(v : int);
        set Seen(1);
    """)
    with pytest.raises(HeroQLError, match="AutoIncresed"):
        hql.run("for query(v) :- Seen(v) ( let b = Box{ } );")


def test_if_not_set_requires_unique_index(spark):
    hql = HeroQL(spark)
    hql.run("""
        data Log(v : int);
        data Seen(v : int);
        set Seen(1);
    """)
    with pytest.raises(HeroQLError, match="Unique"):
        hql.run("for query(v) :- Seen(v) ( if not set Log(v) then set Log(v) );")


def test_interp_string_decoding():
    from herodb_spark.heroql.parser import InterpString, Var, FieldAccess, _decode_istring

    s = _decode_istring('$"Duplicated $(x.name) in $(decl) found."', 0)
    assert isinstance(s, InterpString)
    lit0, ref0, lit1, ref1, lit2 = s.parts
    assert lit0 == "Duplicated " and lit1 == " in " and lit2 == " found."
    assert isinstance(ref0, FieldAccess) and ref0.name == "name" and ref0.base.name == "x"
    assert isinstance(ref1, Var) and ref1.name == "decl"
    with pytest.raises(HeroQLSyntaxError):
        _decode_istring('$"broken $(x"', 0)


def test_let_ctor_enforces_where_constraint(spark):
    """Construction guards the declared `where` like every other
    insert path (round-5 review finding)."""
    hql = HeroQL(spark)
    hql.run("""
        data Pos(pid : int, v : int) index AutoIncresed(pid) where v > 0;
        data Seen(x : int);
        set Seen(3);
    """)
    with pytest.raises(HeroQLError, match="where"):
        hql.run("for query(x) :- Seen(x) ( let p = Pos{ v = 0 - x } );")


def test_interp_string_null_ref_renders_null(spark):
    """A NULL interpolated reference must render as 'null', not
    null-propagate the whole diagnostic (round-5 review finding)."""
    hql = HeroQL(spark)
    hql.run("""
        data class Thing(tid : int, tag : string) index AutoIncresed(tid), Unique(tid);
        data Msgs(message : string) index Unique(message);
        data Seen(x : int);
        set Seen(1);
    """)
    hql.run("""
        for query(x) :- Seen(x)
        (
            let t = Thing{ },
            ensure set Msgs($"tag=$(t.tag) id=$(x)")
        );
    """)
    assert rows(hql.table("Msgs")) == [("tag=null id=1",)]


# ---------------------------------------------------------------------------
# durable mutations: statements wired to SnapshotTable (round-6)
# ---------------------------------------------------------------------------


def test_durable_mutations_history_and_time_travel(spark, tmp_path, sf_dir, duck):
    """draft:128-136 statements against a snapshot-backed table: the
    program's result hash-matches the in-memory oracle, every
    statement left an OCC commit in history(), the state survives the
    session (fresh handle), and time travel reaches pre-mutation
    states."""
    import os

    from herodb_spark.sources.snapshot import SnapshotTable

    seed = spark.createDataFrame([], "k long, v long")
    snap = SnapshotTable.create(spark, os.path.join(str(tmp_path), "ledger"), seed, key_cols=["k"])
    hql = HeroQL(spark)
    hql.register_snapshot("Ledger", snap)
    res = hql.run("""
        set Ledger(1, 10);
        set Ledger(2, 20);
        set Ledger(3, 30);
        set Ledger(4, 0);
        update Ledger(k, v) :- k <= 2, v = v * 10;
        remove Ledger(_, v) :- v == 0;

        query (k, v) :- Ledger(k, v);
    """)
    cmp = compare(res.queries[0], HQ.HEROQL_MUTATIONS_SQL, duck)
    assert cmp["ok"], cmp
    ops = [h["op"] for h in snap.history()]
    assert ops == ["create", "merge_upsert", "update_where", "delete_where"]
    # durability: a FRESH handle (new session state) sees the result
    snap2 = SnapshotTable(spark, snap.path)
    assert sorted((r.k, r.v) for r in snap2.read().collect()) == [(1, 100), (2, 200), (3, 30)]
    # time travel: state right after the inserts, before update/remove
    assert sorted((r.k, r.v) for r in snap2.read(version=1).collect()) == [
        (1, 10), (2, 20), (3, 30), (4, 0)
    ]


def test_durable_set_merges_on_key_last_wins(spark, tmp_path):
    """`set` restating an existing key is a MERGE (replace), and
    within one pending batch the last statement wins — mirroring
    statement order."""
    import os

    from herodb_spark.sources.snapshot import SnapshotTable

    seed = spark.createDataFrame([(1, 5)], "k long, v long")
    snap = SnapshotTable.create(spark, os.path.join(str(tmp_path), "t"), seed, key_cols=["k"])
    hql = HeroQL(spark)
    hql.register_snapshot("T", snap)
    hql.run("""
        set T(1, 6);
        set T(2, 7);
        set T(2, 8);
        query (k, v) :- T(k, v);
    """)
    assert rows(hql.table("T")) == [(1, 6), (2, 8)]
    assert [h["op"] for h in snap.history()] == ["create", "merge_upsert"]


def test_durable_update_rejects_key_assignment(spark, tmp_path):
    import os

    from herodb_spark.sources.snapshot import SnapshotTable

    seed = spark.createDataFrame([(1, 5)], "k long, v long")
    snap = SnapshotTable.create(spark, os.path.join(str(tmp_path), "t"), seed, key_cols=["k"])
    hql = HeroQL(spark)
    hql.register_snapshot("T", snap)
    with pytest.raises(HeroQLError, match="key column"):
        hql.run("update T(k, v) :- v == 5, k = k + 10;")


def test_durable_action_set_commits_overwrite(spark, tmp_path):
    """The action dialect (for-query set) on a snapshot-backed table
    commits through `overwrite` — durable, visible to a fresh handle."""
    import os

    from herodb_spark.sources.snapshot import SnapshotTable

    seed = spark.createDataFrame([(1, 5)], "k long, v long")
    snap = SnapshotTable.create(spark, os.path.join(str(tmp_path), "t"), seed, key_cols=["k"])
    hql = HeroQL(spark)
    hql.register_snapshot("T", snap)
    hql.run("for query(k, v) :- T(k, v) ( set T(k + 100, v) )")
    snap2 = SnapshotTable(spark, snap.path)
    assert sorted((r.k, r.v) for r in snap2.read().collect()) == [(1, 5), (101, 5)]
    assert [h["op"] for h in snap.history()][-1] == "overwrite"


def test_database_program_single_statement_autocommit(spark, tmp_path):
    """With register_database but plain run(), each mutation statement
    wraps in its own database transaction — the pin set always covers
    the member-table commits."""
    import os

    from herodb_spark.sources.database import SnapshotDatabase

    db = SnapshotDatabase.create(spark, os.path.join(str(tmp_path), "db"))
    db.create_table("A", spark.createDataFrame([(1, 10)], "k long, v long"), key_cols=["k"])
    hql = HeroQL(spark)
    hql.register_database(db)
    hql.run("set A(2, 20);")
    assert db.history()[-1]["op"] == "txn"
    assert sorted((r.k, r.v) for r in db.read("A").collect()) == [(1, 10), (2, 20)]
    # member table current == db pin (nothing unpublished)
    assert db.table("A")._load()["current"] == db.tables()["A"]


def test_run_transactional_multi_table_atomic(spark, tmp_path):
    """A program mutating TWO tables publishes once: one new database
    version pinning both new table versions."""
    import os

    from herodb_spark.sources.database import SnapshotDatabase

    db = SnapshotDatabase.create(spark, os.path.join(str(tmp_path), "db"))
    db.create_table("Acct", spark.createDataFrame([(1, 100)], "k long, v long"), key_cols=["k"])
    db.create_table("Log", spark.createDataFrame([(0, "init")], "seq long, what string"), key_cols=["seq"])
    hql = HeroQL(spark)
    hql.register_database(db)
    v_before = db._load()["current"]
    hql.run_transactional("""
        update Acct(k, v) :- k == 1, v = v + 1;
        set Log(1, "bumped");
    """)
    m = db._load()
    assert m["current"] == v_before + 1  # ONE db version for the program
    assert m["versions"][str(m["current"])]["op"] == "txn"
    assert db.read("Acct").collect()[0].v == 101
    assert db.read("Log").count() == 2


def test_run_transactional_error_rolls_back_all_tables(spark, tmp_path):
    """Crash-consistency (Rewrite.md conflict/recovery): a program
    whose SECOND statement fails leaves readers on the full pre-state
    even though the first statement's table commit already landed."""
    import os

    from herodb_spark.sources.database import SnapshotDatabase

    db = SnapshotDatabase.create(spark, os.path.join(str(tmp_path), "db"))
    db.create_table("Acct", spark.createDataFrame([(1, 100)], "k long, v long"), key_cols=["k"])
    db.create_table("Caps", spark.createDataFrame([(1, 5)], "k long, v long"), key_cols=["k"])
    hql = HeroQL(spark)
    hql.register_database(db)
    hql.run("data Caps(k : int, v : int) where v < 10;")
    with pytest.raises(HeroQLError):
        hql.run_transactional("""
            update Acct(k, v) :- k == 1, v = v * 2;
            set Caps(2, 99);
        """)
    # database pin unchanged; first statement's version is invisible
    assert db.read("Acct").collect()[0].v == 100
    assert db.read("Caps").count() == 1
    # recovery sweeps the orphaned Acct version
    healed = db.recover()
    assert "Acct" in healed


def test_cli_durable_database_transactional(spark, tmp_path):
    """CLI parity for the durable surface: --database binds a
    SnapshotDatabase, --transactional runs the program as one atomic
    multi-table commit, and the effects persist on disk."""
    import contextlib
    import io
    import os

    from herodb_spark.heroql.__main__ import main
    from herodb_spark.sources.database import SnapshotDatabase

    dbp = os.path.join(str(tmp_path), "db")
    db = SnapshotDatabase.create(spark, dbp)
    db.create_table("Acct", spark.createDataFrame([(1, 100)], "k long, v long"), key_cols=["k"])
    db.create_table("Log", spark.createDataFrame([(0, "init")], "seq long, what string"), key_cols=["seq"])

    prog = tmp_path / "p.hql"
    prog.write_text("""
        update Acct(k, v) :- k == 1, v = v + 5;
        set Log(1, "bump");
        query (k, v) :- Acct(k, v);
    """)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main([str(prog), "--database", dbp, "--transactional"], spark=spark)
    assert rc == 0
    assert "1 | 105" in buf.getvalue()
    db2 = SnapshotDatabase(spark, dbp)
    assert db2.read("Acct").collect()[0].v == 105
    assert db2.read("Log").count() == 2
    assert db2.history()[-1]["op"] == "txn"


def test_cli_snapshot_flag(spark, tmp_path):
    import contextlib
    import io
    import os

    from herodb_spark.heroql.__main__ import main
    from herodb_spark.sources.snapshot import SnapshotTable

    tp = os.path.join(str(tmp_path), "t")
    SnapshotTable.create(
        spark, tp, spark.createDataFrame([(1, 1)], "k long, v long"), key_cols=["k"]
    )
    prog = tmp_path / "p.hql"
    prog.write_text("set T(2, 4); query (k, v) :- T(k, v);")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main([str(prog), "--snapshot", f"T={tp}"], spark=spark)
    assert rc == 0
    t = SnapshotTable(spark, tp)
    assert sorted((r.k, r.v) for r in t.read().collect()) == [(1, 1), (2, 4)]


def test_program_log_persisted_and_replay_rebuilds_table(spark, tmp_path):
    """Rewrite.md:6 "save query to log": each durable commit records
    the HeroQL statement(s) that produced it; history() surfaces them,
    and re-running the logged programs against a copy of version 0
    rebuilds the table exactly (the audit/replay contract the
    reference's query log exists for)."""
    import os

    from herodb_spark.sources.snapshot import SnapshotTable

    seed = spark.createDataFrame([], "k long, v long")
    snap = SnapshotTable.create(spark, os.path.join(str(tmp_path), "led"), seed, key_cols=["k"])
    hql = HeroQL(spark)
    hql.register_snapshot("T", snap)
    hql.run("""
        set T(1, 10);
        set T(2, 20);
        set T(3, 0);
        update T(k, v) :- k <= 2, v = v * 10;
        remove T(_, v) :- v == 0;
    """)
    hist = snap.history()
    progs = [h["program"] for h in hist]
    assert progs[0] is None  # create carries no statement
    # the batched merge logs ALL its set statements, in order
    assert progs[1] == "set T(1, 10);\nset T(2, 20);\nset T(3, 0);"
    assert progs[2] == "update T(k, v) :- k <= 2, v = v * 10;"
    assert progs[3] == "remove T(_, v) :- v == 0;"

    # replay: run the logged programs against a copy of version 0
    replay = SnapshotTable.create(
        spark, os.path.join(str(tmp_path), "replay"), snap.read(version=0), key_cols=["k"]
    )
    hql2 = HeroQL(spark)
    hql2.register_snapshot("T", replay)
    for p in progs:
        if p:
            hql2.run(p)
    assert sorted((r.k, r.v) for r in replay.read().collect()) == sorted(
        (r.k, r.v) for r in snap.read().collect()
    ) == [(1, 100), (2, 200)]


def test_time_travel_atom_reads_old_versions(spark, tmp_path, duck):
    """`T@k(...)` time travel in the language, oracle-checked, incl. a
    read ACROSS a schema-evolution boundary: the pre-evolution version
    binds its OLD arity while the current table binds the evolved one."""
    import os

    from pyspark.sql import functions as F

    from herodb_spark.sources.snapshot import SnapshotTable

    seed = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    snap = SnapshotTable.create(spark, os.path.join(str(tmp_path), "tt"), seed, key_cols=["k"])
    snap.update_where(F.col("k") == 1, {"v": F.lit(11)})     # v1
    snap.add_columns({"note": "string"})                      # v2 (metadata-only)
    snap.merge_upsert(
        spark.createDataFrame([(3, 30, "new")], "k long, v long, note string")
    )                                                         # v3
    hql = HeroQL(spark)
    hql.register_snapshot("T", snap)

    # current: evolved 3-column shape
    cur = hql.run("query (k, v, note) :- T(k, v, note);").queries[0]
    cmp = compare(
        cur,
        """SELECT * FROM (VALUES (1, 11, NULL), (2, 20, NULL), (3, 30, 'new'))
           t(k, v, note) ORDER BY k""",
        duck,
    )
    assert cmp["ok"], cmp

    # version 0: pre-mutation, pre-evolution — binds the OLD 2-arity
    v0 = hql.run("query (k, v) :- T@0(k, v);").queries[0]
    cmp0 = compare(
        v0, "SELECT * FROM (VALUES (1, 10), (2, 20)) t(k, v) ORDER BY k", duck
    )
    assert cmp0["ok"], cmp0

    # version 1: post-update, still 2 columns
    v1 = hql.run("query (k, v) :- T@1(k, v), k == 1;").queries[0]
    cmp1 = compare(v1, "SELECT * FROM (VALUES (1, 11)) t(k, v)", duck)
    assert cmp1["ok"], cmp1

    # time-traveled and current versions JOIN in one body: rows whose
    # v changed between v0 and now
    diff = hql.run(
        "query (k, old, new) :- T@0(k, old), T(k, new, _), old != new;"
    ).queries[0]
    assert rows(diff) == [(1, 10, 11)]


def test_time_travel_atom_requires_snapshot(spark):
    hql = HeroQL(spark)
    hql.register("M", spark.createDataFrame([(1, 2)], "k long, v long"))
    with pytest.raises(HeroQLError, match="time travel"):
        hql.run("query (k, v) :- M@0(k, v);")


def test_changes_relation_binds_cdc(spark, tmp_path):
    """`changes(T, from, to, key..., col..., chg)` binds the change
    feed of a snapshot table between two versions."""
    import os

    from pyspark.sql import functions as F

    from herodb_spark.sources.snapshot import SnapshotTable

    seed = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    snap = SnapshotTable.create(spark, os.path.join(str(tmp_path), "cd"), seed, key_cols=["k"])
    snap.merge_upsert(spark.createDataFrame([(3, 30)], "k long, v long"))  # v1: insert 3
    snap.delete_where(F.col("k") == 2)                                     # v2: delete 2
    snap.update_where(F.col("k") == 1, {"v": F.lit(99)})                   # v3: update 1
    hql = HeroQL(spark)
    hql.register_snapshot("T", snap)
    out = hql.run("query (k, v, chg) :- changes(T, 0, 3, k, v, chg);").queries[0]
    got = sorted((r.k, r.v, r.chg) for r in out.collect())
    assert got == [
        (1, 10, "update_pre"),
        (1, 99, "update_post"),
        (2, 20, "delete"),
        (3, 30, "insert"),
    ]
    # the CDC relation composes with ordinary literals
    ins = hql.run(
        'query (k) :- changes(T, 0, 3, k, _, chg), chg == "insert";'
    ).queries[0]
    assert rows(ins) == [(3,)]


def test_register_snapshot_composite_key_binds(spark, tmp_path):
    import os

    from herodb_spark.sources.snapshot import SnapshotTable

    seed = spark.createDataFrame([(1, 2, 3)], "a long, b long, v long")
    snap = SnapshotTable.create(
        spark, os.path.join(str(tmp_path), "ck"), seed, key_cols=["a", "b"]
    )
    hql = HeroQL(spark)
    # since round 8 composite keys register fine (r7 advice) — only
    # CLASS tables still need a single key to bind row variables
    hql.register_snapshot("T", snap)
    assert rows(hql.run("query (a, b, v) :- T(a, b, v);").queries[0]) == [(1, 2, 3)]
    hql2 = HeroQL(spark)
    with pytest.raises(HeroQLError, match="ONE key column"):
        hql2.register_snapshot("C", snap, is_class=True)


def test_inmem_unique_set_replaces_on_key(spark):
    """Round-6 advice: `set` on a table declared `index Unique(k)`
    follows replace-on-key semantics on the IN-MEMORY path too, so the
    same program gives the same result whether or not the table is
    snapshot-backed."""
    hql = HeroQL(spark)
    hql.run("""
        data T(k : int, v : int) index Unique(k);
        set T(1, 10);
        set T(2, 20);
        set T(1, 11);
    """)
    assert rows(hql.table("T").orderBy("k")) == [(1, 11), (2, 20)]
    # restating a key in a LATER batch replaces the stored row
    hql.run("set T(2, 22);")
    assert rows(hql.table("T").orderBy("k")) == [(1, 11), (2, 22)]
    # undeclared tables keep fact-append semantics
    hql2 = HeroQL(spark)
    hql2.run("""
        data F(a : int, b : int);
        set F(1, 10);
        set F(1, 11);
    """)
    assert rows(hql2.table("F").orderBy("a", "b")) == [(1, 10), (1, 11)]


def test_cli_at_version_time_travel(spark, tmp_path):
    """CLI --at-version resolves --database tables through the pinned
    historical version set (read-only)."""
    import contextlib
    import io
    import os

    from pyspark.sql import functions as F

    from herodb_spark.heroql.__main__ import main
    from herodb_spark.sources.database import SnapshotDatabase

    dbp = os.path.join(str(tmp_path), "db")
    db = SnapshotDatabase.create(spark, dbp)
    db.create_table("Acct", spark.createDataFrame([(1, 100)], "k long, v long"), key_cols=["k"])
    with db.transaction() as t:
        t.update_where("Acct", F.col("k") == 1, {"v": F.lit(500)})
    prog = tmp_path / "p.hql"
    prog.write_text("query (k, v) :- Acct(k, v);")
    # current state
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert main([str(prog), "--database", dbp], spark=spark) == 0
    assert "1 | 500" in buf.getvalue()
    # time travel to db version 1 (after create_table, before the txn)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert main([str(prog), "--database", dbp, "--at-version", "1"], spark=spark) == 0
    assert "1 | 100" in buf.getvalue()


def _zone_snap(spark, tmp_path):
    import os

    from herodb_spark.sources.snapshot import SnapshotTable

    # ids cluster by partition: grp g holds ids [100g, 100g+9]
    rows = [(100 * g + i, g, float(100 * g + i)) for g in range(4) for i in range(10)]
    df = spark.createDataFrame(rows, "id long, grp int, v double")
    return SnapshotTable.create(
        spark, os.path.join(str(tmp_path), "zm"), df, ["id"], partition_col="grp"
    )


def test_zone_map_pushdown_prunes_language_scans(spark, tmp_path):
    """Comparison conjuncts on a variable bound at a snapshot key
    position push down to the zone-map read: the durable scan touches
    only partitions whose recorded [min, max] can intersect, and the
    results equal the unpruned evaluation."""
    snap = _zone_snap(spark, tmp_path)
    hql = HeroQL(spark)
    hql.register_snapshot("T", snap)
    out = hql.run("query (k, v) :- T(k, g, v), k >= 200, k <= 250;").queries[0]
    files = out.inputFiles()
    assert files and all("__p=2" in f for f in files), files
    assert sorted(r.k for r in out.collect()) == list(range(200, 210))

    # constant pattern argument = equality bound
    out2 = hql.run("query (v) :- T(305, g, v);").queries[0]
    assert all("__p=3" in f for f in out2.inputFiles())
    assert rows(out2) == [(305.0,)]


def test_zone_map_pushdown_preserves_anti_join_semantics(spark, tmp_path):
    """Pruning the inner side of `not T(...)` by the body's bounds
    must not change results: compare against an in-memory twin."""
    snap = _zone_snap(spark, tmp_path)
    hql = HeroQL(spark)
    hql.register_snapshot("T", snap)
    hql.register(
        "Probe",
        spark.createDataFrame([(i,) for i in (105, 150, 205, 399)], "k long"),
    )
    prog = "query (k) :- Probe(k), k >= 100, k <= 300, not T(k, _, _);"
    got = sorted(r.k for r in hql.run(prog).queries[0].collect())

    hql2 = HeroQL(spark)
    hql2.register("T", snap.read())  # plain in-memory frame: no pruning path
    hql2.register(
        "Probe",
        spark.createDataFrame([(i,) for i in (105, 150, 205, 399)], "k long"),
    )
    want = sorted(r.k for r in hql2.run(prog).queries[0].collect())
    assert got == want == [150]


def test_zone_map_pushdown_on_partition_column(spark, tmp_path):
    """A bound on the PARTITION column prunes through the same path
    (its zone map is min == max == the value)."""
    snap = _zone_snap(spark, tmp_path)
    hql = HeroQL(spark)
    hql.register_snapshot("T", snap)
    out = hql.run("query (k) :- T(k, g, _), g == 1;").queries[0]
    assert all("__p=1" in f for f in out.inputFiles())
    assert sorted(r.k for r in out.collect()) == list(range(100, 110))


def test_register_database_binds_composite_key_members(spark, tmp_path):
    """Since round 8 (r7 advice) a composite-key member table binds
    like any other — the full key list threads through — and
    `skipped_tables` stays empty for compatibility."""
    import os

    from herodb_spark.sources.database import SnapshotDatabase

    db = SnapshotDatabase.create(spark, os.path.join(str(tmp_path), "db"))
    db.create_table("ok", spark.createDataFrame([(1, 2)], "k long, v long"), key_cols=["k"])
    db.create_table(
        "multi", spark.createDataFrame([(1, 2, 3)], "a long, b long, v long"),
        key_cols=["a", "b"],
    )
    hql = HeroQL(spark)
    hql.register_database(db)
    assert hql.skipped_tables == []
    assert rows(hql.run("query (k, v) :- ok(k, v);").queries[0]) == [(1, 2)]
    assert rows(hql.run("query (a, b, v) :- multi(a, b, v);").queries[0]) == [(1, 2, 3)]
    # durable mutation through the database scope merges on BOTH keys
    hql.run("set multi(1, 2, 30); set multi(1, 9, 99);")
    assert rows(hql.run("query (a, b, v) :- multi(a, b, v);").queries[0]) == [
        (1, 2, 30), (1, 9, 99)
    ]


def test_composite_key_snapshot_durable_mutations(spark, tmp_path):
    """r7 verdict item 7, done-condition: durable mutation +
    uniqueness over a 2-key snapshot table, same oracle shape as
    heroql_durable_mutations — `set` merges on (k1, k2) (restated
    composite key replaces the row, last statement wins), update/
    remove commit versions, history records one op per statement, and
    time travel reaches every pre-mutation state."""
    import os

    from herodb_spark.sources.snapshot import SnapshotTable

    seed = spark.createDataFrame([], "k1 long, k2 string, v long")
    snap = SnapshotTable.create(
        spark, os.path.join(str(tmp_path), "ledger2"), seed, key_cols=["k1", "k2"]
    )
    hql = HeroQL(spark)
    hql.register_snapshot("Ledger", snap)
    res = hql.run("""
        set Ledger(1, "a", 10);
        set Ledger(1, "b", 20);
        set Ledger(2, "a", 30);
        set Ledger(1, "a", 11);
        update Ledger(k1, k2, v) :- k2 == "a", v = v * 10;
        remove Ledger(k1, _, _) :- k1 == 2;

        query (k1, k2, v) :- Ledger(k1, k2, v);
    """)
    assert rows(res.queries[0]) == [(1, "a", 110), (1, "b", 20)]
    ops = [h["op"] for h in snap.history()]
    # consecutive `set` statements batch into ONE merge commit
    assert ops == ["create", "merge_upsert", "update_where", "delete_where"]
    # the in-batch restated key (1,"a")→11 won before the update ×10
    v1 = {(r.k1, r.k2): r.v for r in snap.read(version=1).collect()}
    assert v1[(1, "a")] == 11 and v1[(2, "a")] == 30
    # uniqueness: set can never produce two rows for one composite key
    assert snap.read().groupBy("k1", "k2").count().where("count > 1").count() == 0


def test_composite_key_if_not_set_and_ensure_set(spark, tmp_path):
    """The synthesized Unique(<key_cols>) index makes key-set language
    features address ALL key columns of a composite-key snapshot
    table: `ensure set` keeps a present (k1,k2) untouched; `if not
    set` fires its then-arm on the present composite key only."""
    import os

    from herodb_spark.sources.snapshot import SnapshotTable

    seed = spark.createDataFrame([(1, "a", 10)], "k1 long, k2 string, v long")
    snap = SnapshotTable.create(
        spark, os.path.join(str(tmp_path), "t2"), seed, key_cols=["k1", "k2"]
    )
    hql = HeroQL(spark)
    hql.register_snapshot("T", snap)
    hql.run('data Errors(message : string);')
    hql.run("""
        for query (k1, k2) :- T(k1, k2, _) (
            if not set T(k1, "b", 0) then (
                set Errors($"dup $(k1)");
            );
        );
    """)
    got = rows(hql.table("T"))
    assert got == [(1, "a", 10), (1, "b", 0)]
    assert rows(hql.table("Errors")) == []
    # second run: (1,"b") now present → then-arm fires, no new row
    hql.run("""
        for query (k1) :- T(k1, "a", _) (
            if not set T(k1, "b", 5) then (
                set Errors($"dup $(k1)");
            );
        );
    """)
    assert rows(hql.table("T")) == [(1, "a", 10), (1, "b", 0)]
    assert rows(hql.table("Errors")) == [("dup 1",)]


def test_zone_map_type_mismatch_never_crashes(spark, tmp_path):
    """A constant or bound whose Python type doesn't order against the
    recorded stats must fall back to scanning (engine cast semantics
    decide), never raise (review finding: TypeError in _skippable /
    _body_var_bounds)."""
    from herodb_spark.sources.snapshot import SnapshotTable

    snap = _zone_snap(spark, tmp_path)
    hql = HeroQL(spark)
    hql.register_snapshot("T", snap)
    # string constant against a long-keyed column: Spark's implicit
    # cast makes this match id == 305
    out = hql.run('query (v) :- T("305", g, v);').queries[0]
    assert out.count() == 1
    # mixed-type conjuncts on one var: the bounds pre-pass drops the
    # var (no Python TypeError at compile time); what remains is
    # Spark's OWN ANSI cast semantics at execution — the engine's
    # documented behavior for 'k > "a"' on a numeric column, raised
    # from the compiled filter, not from the pushdown
    import pyspark.errors as PE

    out2 = hql.run('query (k) :- T(k, g, _), k > 5, k > "a";')  # compiles fine
    with pytest.raises(PE.exceptions.captured.NumberFormatException):
        out2.queries[0].count()
    # direct unit: incomparable bound proves nothing
    assert SnapshotTable._skippable({"k": [1, 9]}, {"k": ("abc", "abc")}) is False


def test_maintenance_statements_standalone_snapshot(spark, tmp_path):
    """`optimize` / `optimize cluster_by` / `vacuum keep` over a
    standalone snapshot table: content identical, layout/retention
    effects visible in the manifest, reports surfaced on RunResult."""
    import os

    from herodb_spark.sources.snapshot import SnapshotTable

    df = spark.range(256).selectExpr("id AS k", "id AS x", "CAST(id % 2 AS LONG) AS g")
    snap = SnapshotTable.create(
        spark, os.path.join(str(tmp_path), "m"), df, ["k"], partition_col="g"
    )
    # fragment it: several tiny commits
    for i in range(3):
        snap.merge_upsert(
            spark.createDataFrame([(1000 + i, 1, 0)], "k long, x long, g long")
        )
    hql = HeroQL(spark)
    hql.register_snapshot("T", snap)
    before = rows(hql.run("query (k, x) :- T(k, x, _);").queries[0])
    out = hql.run("optimize T; optimize T cluster_by (x); vacuum T keep 1;")
    kinds = [(k, n) for k, n, _ in out.maintenance]
    assert kinds == [("optimize", "T"), ("cluster", "T"), ("vacuum", "T")]
    m = snap._load()
    ops = [m["versions"][str(v)]["op"] for v in sorted(int(x) for x in m["versions"])]
    assert ops[-1] == "cluster"
    assert len(m["versions"]) == 1  # vacuum kept only current
    assert m.get("file_stats")  # clustering recorded per-file zone maps
    assert rows(hql.run("query (k, x) :- T(k, x, _);").queries[0]) == before


def test_maintenance_statements_database_routing(spark, tmp_path):
    """Member-table optimize/cluster publish through the database pin
    swap; table-level vacuum is refused with guidance; `vacuum
    database keep N;` prunes db versions."""
    import os

    from herodb_spark.sources.database import SnapshotDatabase

    db = SnapshotDatabase.create(spark, os.path.join(str(tmp_path), "db"))
    df = spark.range(64).selectExpr("id AS k", "id AS x")
    db.create_table("t", df, key_cols=["k"])
    for i in range(3):
        with db.transaction() as t:
            t.merge_upsert("t", spark.createDataFrame([(500 + i, 1)], "k long, x long"))
    hql = HeroQL(spark)
    hql.register_database(db)
    out = hql.run("optimize t cluster_by (x);")
    assert out.maintenance[0][0] == "cluster"
    # the PIN advanced to the clustered version (recovery heals nothing)
    assert db.recover() == {}
    assert db.read("t").count() == 67
    with pytest.raises(HeroQLError, match="vacuum database"):
        hql.run("vacuum t;")
    n_before = len(db._load()["versions"])
    out2 = hql.run("vacuum database keep 1;")
    assert out2.maintenance[0][:2] == ("vacuum", None)
    assert len(db._load()["versions"]) < n_before
    assert db.read("t").count() == 67


def test_maintenance_errors(spark, tmp_path):
    """In-memory tables are not maintainable; vacuum is refused inside
    transactional programs; optimize IS allowed there."""
    import os

    from herodb_spark.sources.database import SnapshotDatabase

    hql = HeroQL(spark)
    hql.register("M", spark.createDataFrame([(1, 2)], "a long, b long"))
    with pytest.raises(HeroQLError, match="not a durable snapshot"):
        hql.run("optimize M;")

    db = SnapshotDatabase.create(spark, os.path.join(str(tmp_path), "db2"))
    db.create_table("t", spark.createDataFrame([(1, 2)], "k long, x long"), key_cols=["k"])
    hql2 = HeroQL(spark)
    hql2.register_database(db)
    with pytest.raises(HeroQLError, match="transactional"):
        hql2.run_transactional("vacuum database keep 1;")
    res = hql2.run_transactional("set t(9, 9); optimize t;")
    assert [k for k, _, _ in res.maintenance] == ["optimize"]
    assert db.read("t").count() == 2


def test_history_relation_audits_programs(spark, tmp_path):
    """`history(T, v, op, program)` binds the version log — including
    the persisted mutation-program text — as an ordinary relation."""
    import os

    from herodb_spark.sources.snapshot import SnapshotTable

    snap = SnapshotTable.create(
        spark,
        os.path.join(str(tmp_path), "h"),
        spark.createDataFrame([], "k long, v long"),
        key_cols=["k"],
    )
    hql = HeroQL(spark)
    hql.register_snapshot("T", snap)
    hql.run("set T(1, 10); remove T(_, v) :- v == 99;")
    # the remove matched NOTHING: a no-op predicate mutation commits
    # no version (r10 — same skip the partitioned path always had),
    # so only create + merge are in the log
    out = hql.run("query (ver, op, prog) :- history(T, ver, op, prog);").queries[0]
    assert sorted((r.ver, r.op) for r in out.collect()) == [
        (0, "create"), (1, "merge_upsert")
    ]
    hql.run("remove T(_, v) :- v == 10;")  # matches → commits v2
    out = hql.run("query (ver, op, prog) :- history(T, ver, op, prog);").queries[0]
    got = sorted((r.ver, r.op) for r in out.collect())
    assert got == [(0, "create"), (1, "merge_upsert"), (2, "delete_where")]
    progs = {r.ver: r.prog for r in out.collect()}
    assert progs[0] is None
    assert "set T(1, 10)" in progs[1]
    assert progs[2].startswith("remove T")
    # composes like any relation: filter on op
    only = hql.run('query (ver) :- history(T, ver, op, _), op == "merge_upsert";').queries[0]
    assert [r.ver for r in only.collect()] == [1]


def test_seminaive_rounds_join_delta_not_state(spark, monkeypatch):
    """The r7 verdict's weak item, pinned: every recursive fixpoint
    round derives from the previous round's DELTA, not the full
    accumulated state. Probe: record the row count of every
    delta-substituted atom frame while the draft's doubly-recursive
    Fib runs — deltas must stay ≤ 2 rows (the two seed facts) even
    though the final state holds 10 rows; a naive evaluator would
    feed the growing state (up to 9 rows) into the last rounds."""
    from pyspark.sql import DataFrame as _DF

    from herodb_spark.heroql import compiler as C

    seen: list[int] = []
    orig = C.HeroQL._compile_body

    def probing(self, body, state=None, overrides=None):
        if overrides:
            for df in overrides.values():
                if isinstance(df, _DF):
                    seen.append(df.count())
        return orig(self, body, state, overrides)

    monkeypatch.setattr(C.HeroQL, "_compile_body", probing)
    hql = C.HeroQL(spark, max_iters=16)
    res = hql.run("""
        func Fib(in i, out o);
        case Fib(1, 1);
        case Fib(2, 1);
        case Fib(a, b) :- Fib(a-1, x), Fib(a-2, y), b = x + y;
        query (o) :- Fib(10, o);
    """)
    assert rows(res.queries[0]) == [(55,)]
    assert seen, "no delta-substituted derivations recorded"
    assert max(seen) <= 2, f"a round joined {max(seen)} rows — full state, not delta"


def test_seminaive_multitable_scc_uses_deltas(spark, monkeypatch):
    """Mutual recursion (two-table SCC) also runs semi-naively: each
    round's Even/Odd derivations read 1-row deltas."""
    from pyspark.sql import DataFrame as _DF

    from herodb_spark.heroql import compiler as C

    seen: list[int] = []
    orig = C.HeroQL._compile_body

    def probing(self, body, state=None, overrides=None):
        if overrides:
            for df in overrides.values():
                if isinstance(df, _DF):
                    seen.append(df.count())
        return orig(self, body, state, overrides)

    monkeypatch.setattr(C.HeroQL, "_compile_body", probing)
    hql = C.HeroQL(spark, max_iters=12)
    res = hql.run("""
        func Even(in n);
        func Odd(in n);
        case Even(0);
        case Odd(n) :- Even(n-1), n <= 9;
        case Even(n) :- Odd(n-1), n <= 9;
        query (n) :- Even(n);
    """)
    assert rows(res.queries[0]) == [(0,), (2,), (4,), (6,), (8,)]
    assert seen and max(seen) == 1


# ------------------------------------------------- cached-query index
# (Kernel/README.md "Cached Query": standalone `index Name { Hash(col) }`
# declarations wire constant-bound atoms through a per-value result
# cache with the calculating-status recursion stop; the full protocol
# including cover resolution is library-tested on namespace.QueryCache)


def _gp_program(hql):
    hql.run("""
        data Parents(parent: string, child: string);
        set Parents("a", "b"); set Parents("b", "c"); set Parents("b", "d");
        set Parents("x", "y"); set Parents("y", "z");
        data GrandParents(grandParent: string, grandChild: string);
        case GrandParents(gp, gc) :- Parents(gp, p), Parents(p, gc);
        index GrandParents { Hash(grandParent) };
    """)


def test_cached_query_index_hit_miss(spark):
    """The README's GrandParents example: the first constant-bound
    query computes + pins the per-value subset; the second is a pure
    cache hit (observable in the stats); results are correct either
    way."""
    hql = HeroQL(spark)
    _gp_program(hql)
    r1 = hql.run('query (gc) :- GrandParents("a", gc);')
    assert rows(r1.queries[0]) == [("c",), ("d",)]
    assert hql._qcache_stats == {"hits": 0, "misses": 1}
    r2 = hql.run('query (gc) :- GrandParents("a", gc);')
    assert rows(r2.queries[0]) == [("c",), ("d",)]
    assert hql._qcache_stats == {"hits": 1, "misses": 1}
    # a different index value is its own entry
    r3 = hql.run('query (gc) :- GrandParents("x", gc);')
    assert rows(r3.queries[0]) == [("z",)]
    assert hql._qcache_stats == {"hits": 1, "misses": 2}
    # value not covered by any index (const on grandChild only): no
    # cache interaction — evaluated normally
    r4 = hql.run('query (gp) :- GrandParents(gp, "z");')
    assert rows(r4.queries[0]) == [("x",)]
    assert hql._qcache_stats == {"hits": 1, "misses": 2}


def test_cached_query_calculating_reentry_stops(spark):
    """Re-entering a key that is mid-calculation errors (the
    reference's recursion stop — an error, not a filter failure)."""
    hql = HeroQL(spark)
    _gp_program(hql)
    # settle the pending inserts first (their flush legitimately wipes
    # the cache), then simulate a mid-calculation re-entry
    hql.run('query (gc) :- GrandParents("x", gc);')
    key = ("GrandParents", ("grandParent",), ("a",))
    hql._qcache[key] = ("calculating", None)
    with pytest.raises(HeroQLError, match="already calculating"):
        hql.run('query (gc) :- GrandParents("a", gc);')
    # the stop retracts nothing it doesn't own: the mark is still the
    # outer computation's to clear
    assert hql._qcache[key][0] == "calculating"
    del hql._qcache[key]
    assert rows(hql.run('query (gc) :- GrandParents("a", gc);').queries[0]) == [("c",), ("d",)]


def test_cached_query_invalidated_by_mutation(spark):
    """Mutations wipe the per-value cache with the memos: a cached
    entry never serves pre-mutation rows."""
    hql = HeroQL(spark)
    _gp_program(hql)
    assert rows(hql.run('query (gc) :- GrandParents("a", gc);').queries[0]) == [("c",), ("d",)]
    hql.run('set Parents("b", "e");')
    r = hql.run('query (gc) :- GrandParents("a", gc);')
    assert rows(r.queries[0]) == [("c",), ("d",), ("e",)]
    assert hql._qcache_stats["misses"] == 2  # recomputed, not served stale


def test_cached_query_index_validates(spark):
    """Column validation still errors; an index on a NOT-YET-declared
    relation DEFERS until the name appears (Kernel/README.md
    "aggregation": 'the order is not important') and then applies —
    including its column validation."""
    hql = HeroQL(spark)
    hql.run("data T(a: long, b: long);")
    with pytest.raises(HeroQLError, match="not in"):
        hql.run("index T { Hash(zz) };")
    # out-of-order: index first, data second — the cache key applies
    hql.run("index Later { Hash(a) };")
    assert "Later" not in hql.query_indexes  # deferred, not applied
    hql.run("data Later(a: long, b: long);")
    assert hql.query_indexes["Later"] == [["a"]]
    # a deferred index with a bad column errors WHEN the name appears
    hql.run("index Later2 { Hash(zz) };")
    with pytest.raises(HeroQLError, match="not in"):
        hql.run("data Later2(a: long);")


# ------------------------------------------------- output-argument queries
# (Kernel/README.md "Output only argument": `query f(in...) -> (out...)`
# with `<-` compute bindings, forward-only direction, invocable in rule
# bodies as `x2 <- Square(x)` / `(x1, x2) <- Solve(a, b, c)`)


def test_out_query_square_readme_verbatim(spark, duck):
    """The README's Square example, invoked per row of a relation and
    hash-matched against DuckDB."""
    hql = HeroQL(spark)
    hql.register("T", spark.createDataFrame([(i,) for i in range(7)], "x long"))
    res = hql.run("""
        query Square(x: int) -> (x2: int)
        :- x2 <- x * x;
        query (x, y) :- T(x), y <- Square(x);
    """)
    assert rows(res.queries[0]) == [(i, i * i) for i in range(7)]


def test_out_query_solve_readme_verbatim(spark):
    """The README's Solve example: two outputs via tuple
    destructuring, and the delta > 0 guard FILTERING rows (no output
    row for a failing guard — the relational reading)."""
    hql = HeroQL(spark)
    hql.register("T", spark.createDataFrame([(2.0,), (3.0,), (5.0,)], "b double"))
    res = hql.run("""
        query Solve(a: double, b: double, c: double) -> (x1: double, x2: double)
        :- delta <- b*b - 4.0*a*c,
           delta > 0.0,
           x1 <- (0.0 - b + delta) / (2.0 * a),
           x2 <- (0.0 - b - delta) / (2.0 * a);
        query (b, p, q) :- T(b), (p, q) <- Solve(1.0, b, 1.0);
    """)
    # b=2: delta=0 filtered; b=3: delta=5; b=5: delta=21
    assert rows(res.queries[0]) == [(3.0, 1.0, -4.0), (5.0, 8.0, -13.0)]


def test_out_query_nested_call_and_bound_out(spark):
    """Calls nest (Quartic <- Square inside its body), and an
    already-bound caller variable on the left of `<-` becomes an
    equality FILTER, not a rebinding."""
    hql = HeroQL(spark)
    hql.register("T", spark.createDataFrame([(2, 16), (3, 81), (4, 999)], "x long, expect long"))
    res = hql.run("""
        query Square(x: int) -> (x2: int) :- x2 <- x * x;
        query Quartic(x: int) -> (x4: int) :- s <- Square(x), x4 <- s * s;
        query (x) :- T(x, expect), expect <- Quartic(x);
    """)
    assert rows(res.queries[0]) == [(2,), (3,)]  # 4 fails the equality


def test_out_query_direction_checks(spark):
    """'<- define the execution direction, it cannot run backward from
    x2 to x' — backward bindings, `=` in bodies, unbound outs, and
    relational atoms all error at DECLARATION time."""
    hql = HeroQL(spark)
    with pytest.raises(HeroQLError, match="cannot run backward"):
        hql.run("query F(x: int) -> (y: int) :- x <- y * y, y <- 1;")
    with pytest.raises(HeroQLError, match="forward only"):
        hql.run("query F(x: int) -> (y: int) :- y <- z + 1, z <- x;")
    with pytest.raises(HeroQLError, match="never bound"):
        hql.run("query F(x: int) -> (y: int, z: int) :- y <- x;")
    with pytest.raises(HeroQLError, match="bind with `<-`"):
        hql.run("query F(x: int) -> (y: int) :- y = x;")
    # a body with atoms is a RELATIONAL @-dialect query since r13 (the
    # README's Top10 form) — boundness of every in/out is still checked
    # at declaration time
    with pytest.raises(HeroQLError, match="never bound"):
        hql.run("data T(a: long); query F(x: int) -> (y: int) :- T(y);")
    # call-time recursion guard (declaration-time checks can't see a
    # cycle closed after the fact)
    hql2 = HeroQL(spark)
    hql2.register("T", spark.createDataFrame([(1,)], "x long"))
    hql2.run("query H(x: int) -> (y: int) :- y <- x;")
    import herodb_spark.heroql.parser as P2
    hql2.outqueries["H"].body = [P2.CallLit(["y"], "H", [P2.Var("x")])]
    with pytest.raises(HeroQLError, match="recursive output-argument"):
        hql2.run("query (y) :- T(x), y <- H(x);")


def test_cached_query_multi_index_cover(spark):
    """Two declared indexes on one relation: a value bound on both
    columns resolves to the cheapest already-CACHED cover (no
    recompute through the other index), per the README's
    'provided value covered by multiple index' bullet."""
    hql = HeroQL(spark)
    _gp_program(hql)
    hql.run("index GrandParents { Hash(grandParent); Hash(grandChild) };")
    # seed the grandParent cover
    hql.run('query (gc) :- GrandParents("a", gc);')
    assert hql._qcache_stats == {"hits": 0, "misses": 1}
    # both columns bound: the grandParent entry is cached -> pure hit,
    # the residual grandChild constant filters the cached subset
    r = hql.run('query (gp) :- GrandParents(gp, "c"), gp = "a";')
    assert rows(r.queries[0]) == [("a",)]
    # (the atom bound gp via the rule-body equality, so the cache saw
    # only grandChild const — seed the pair form explicitly instead)
    r2 = hql.run('query (x) :- GrandParents("a", "c"), x = 1;')
    assert rows(r2.queries[0]) == [(1,)]
    assert hql._qcache_stats["hits"] >= 1  # served through the cached cover


# ------------------------------------------------- @-command dialect
# (Kernel/README.md "order_by, order_by_desc" / "partition" /
# "aggregation" / "INSERT" / "UPDATE" / "REMOVE" — the README's own
# query surface, its worked examples VERBATIM)


def _exam_rows(spark):
    rows_ = [("a", 10), ("a", 30), ("a", 20), ("a", 5),
             ("b", 50), ("b", 40), ("b", 45), ("b", 60), ("c", 7)]
    return spark.createDataFrame(rows_, "student string, score long")


def test_at_dialect_top10_readme_verbatim(spark):
    """README Top10: global 0-based rank via `order <-
    @order_by_desc(score)`, `order < 10` keeping the top 10 — the
    README's own text including its `.` statement terminators."""
    hql = HeroQL(spark)
    hql.register("Exams", _exam_rows(spark))
    res = hql.run("""
query Top10() -> (student: string, score: int)
:-	Exams(student, score),
	order <- @order_by_desc(score),
	order < 10
.
query (student, score) :- Top10(student, score);
""")
    got = rows(res.queries[0])
    assert len(got) == 9  # all rows (only 9 exams) — order < 10 keeps 10
    assert set(got) == set(tuple(r) for r in _exam_rows(spark).collect())
    # and with a tighter k the CUT is by descending score
    res2 = hql.run("""
query Top2() -> (student: string, score: int)
:-	Exams(student, score),
	order <- @order_by_desc(score),
	order < 2
.
query (student, score) :- Top2(student, score);
""")
    assert sorted(rows(res2.queries[0])) == [("b", 50), ("b", 60)]


def test_at_dialect_top3_per_student_readme_verbatim(spark):
    """README Top3ScorePerStudent: `@partition(student)` scopes the
    rank; outs include the 0-based `order` itself."""
    hql = HeroQL(spark)
    hql.register("Exams", _exam_rows(spark))
    res = hql.run("""
query Top3ScorePerStudent(student: string) -> (score: int, order: int)
:-	Exams(student, score),
	@partition(student),
	order <- @order_by_desc(score),
	order < 3
.
query (student, score, order) :- Top3ScorePerStudent(student, score, order);
""")
    assert sorted(rows(res.queries[0])) == [
        ("a", 10, 2), ("a", 20, 1), ("a", 30, 0),
        ("b", 45, 2), ("b", 50, 1), ("b", 60, 0),
        ("c", 7, 0),
    ]


def test_at_dialect_average_top3_readme_verbatim(spark):
    """README AverageTop3ScorePerStudent: `@aggregate(average(score))`
    REBINDS score to the per-partition average (`average <- score`
    then names it), and the `index { Unique(student) }` declared
    BEFORE the query applies ('the order is not important').
    Integer-typed average floors."""
    hql = HeroQL(spark)
    hql.register("Exams", _exam_rows(spark))
    res = hql.run("""
index AverageTop3ScorePerStudent {
	Unique(student);
}

query AverageTop3ScorePerStudent(student: string) -> (average: int)
:-	Exams(student, score),
	@partition(student),
	order <- @order_by_desc(score),
	order < 3,
	@aggregate(average(score)),
	average <- score
.
query (student, average) :- AverageTop3ScorePerStudent(student, average);
""")
    # a: floor((30+20+10)/3)=20, b: floor((60+50+45)/3)=51, c: 7
    assert sorted(rows(res.queries[0])) == [("a", 20), ("b", 51), ("c", 7)]
    # the out-of-order index registered as a cache key set
    assert ["student"] in hql.query_indexes["AverageTop3ScorePerStudent"]


def test_at_dialect_mutation_procedures_readme_verbatim(spark):
    """README AddExam / UpdateExam / RemoveExam verbatim: declared as
    @-command procedures, invoked as `Name(args);` statements.
    @update matches the unmarked columns and sets the @-marked one;
    @remove matches non-wildcard positions."""
    hql = HeroQL(spark)
    res = hql.run("""
data Exams(student: string, score: int).
index Exams {
	Unique(student);
}

query AddExam(student: string, score: int)
:-	@insert Exams(student, score)
.

query UpdateExam(student: string, score: int)
:-	@update Exams(student, @score)
.

query RemoveExam(student: string)
:-	@remove Exams(student, _)
.

AddExam("alice", 90);
AddExam("bob", 70);
AddExam("carol", 85);
UpdateExam("bob", 95);
RemoveExam("carol");
query (s, sc) :- Exams(s, sc);
""")
    assert sorted(rows(res.queries[0])) == [("alice", 90), ("bob", 95)]


def test_at_dialect_procedure_validation(spark):
    """Declaration/call-time checks: @update must mark a column,
    @insert rejects wildcards, references must be declared parameters,
    call arity and constant-ness are enforced, undeclared procedures
    error."""
    hql = HeroQL(spark)
    hql.run("data T(a: string, b: int);")
    with pytest.raises(HeroQLError, match="marks no @column"):
        hql.run("query P(a: string, b: int) :- @update T(a, b);")
    with pytest.raises(HeroQLError, match="value for every column"):
        hql.run("query P(a: string) :- @insert T(a, _);")
    with pytest.raises(HeroQLError, match="not among the declared"):
        hql.run("query P(a: string) :- @insert T(a, zz);")
    with pytest.raises(HeroQLError, match="declare no outputs"):
        hql.run("query P(a: string, b: int) -> (c: int) :- @insert T(a, b);")
    with pytest.raises(HeroQLError, match="cannot mix"):
        hql.run("query P(a: string, b: int) :- T(a, b), @insert T(a, b);")
    hql.run("query Add(a: string, b: int) :- @insert T(a, b);")
    with pytest.raises(HeroQLError, match="argument"):
        hql.run('Add("x");')
    with pytest.raises(HeroQLError, match="not a declared procedure"):
        hql.run('Nope("x");')
    # expressions of parameters compile through the rule expression
    # compiler
    hql.run("query Add2(a: string, b: int) :- @insert T(a, b * 2 + 1);")
    hql.run('Add2("x", 10);')
    assert rows(hql.run("query (a, b) :- T(a, b);").queries[0]) == [("x", 21)]


def test_at_dialect_durable_procedures(spark, tmp_path):
    """Procedures on a SNAPSHOT-backed table persist: @insert commits
    a merge (program text in the log), @update an update_where,
    @remove a delete_where — one OCC version each, time travel
    intact."""
    import os
    from herodb_spark.sources.snapshot import SnapshotTable

    seed = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long")
    snap = SnapshotTable.create(
        spark, os.path.join(str(tmp_path), "t"), seed, key_cols=["k"]
    )
    hql = HeroQL(spark)
    hql.register_snapshot("T", snap)
    hql.run("""
query AddT(k: string, v: int) :- @insert T(k, v).
query UpdT(k: string, v: int) :- @update T(k, @v).
query DelT(k: string) :- @remove T(k, _).
AddT("c", 3);
UpdT("a", 99);
DelT("b");
""")
    assert sorted(rows(hql.run("query (k, v) :- T(k, v);").queries[0])) == [
        ("a", 99), ("c", 3)
    ]
    ops = [h["op"] for h in snap.history()]
    assert ops == ["create", "merge_upsert", "update_where", "delete_where"]
    progs = [h.get("program") for h in snap.history()]
    assert any(p and 'AddT("c", 3)' in p for p in progs)
    assert rows(hql.run("query (k, v) :- T@0(k, v);").queries[0]) == [
        ("a", 1), ("b", 2)
    ]


def test_nested_partition_index_flattens_and_scopes_unique(spark):
    """Kernel/README.md DATA-COLLECTION `partition(e) { Ordered(score),
    Unique(t) }`: flattens to Unique(e, t) / Ordered(e, score) —
    ensure-set addresses PER-PARTITION uniqueness (same t in another
    partition inserts; same (e, t) is a no-op even under different
    non-key columns)."""
    hql = HeroQL(spark)
    hql.run("""
data Attend(s: int, t: int, e: int, score: int);
index Attend {
	Hash(s),
	partition(e) {
		Ordered(score),
		Unique(t)
	}
}
set Attend(1, 10, 100, 55);
set Attend(2, 20, 200, 66);
""")
    d = hql._def("Attend")
    kinds = sorted((tuple(ix.kinds), tuple(ix.cols)) for ix in d.indexes)
    assert (("Ordered",), ("e", "score")) in kinds
    assert (("Unique",), ("e", "t")) in kinds
    assert ["e", "t"] in hql.query_indexes["Attend"]
    # same (e, t) -> no-op; same t in a DIFFERENT partition -> inserts
    hql.run("""
for query(s) :- Attend(s, 10, 100, 55) (
    ensure set Attend(9, 10, 100, 77);
    ensure set Attend(9, 10, 200, 88)
);
""")
    got = sorted(rows(hql.run("query (s, t, e) :- Attend(s, t, e, _);").queries[0]))
    assert got == [(1, 10, 100), (2, 20, 200), (9, 10, 200)]


def test_at_dialect_graded_leg_matches_oracle(spark, sf_dir, duck):
    res = compare(HQ.heroql_at_dialect(spark, sf_dir), HQ.HEROQL_AT_DIALECT_SQL, duck)
    assert res["ok"], res["detail"]


# ---------------------------------------------------------------- data
# packages (Kernel/README.md DATA PACKAGE / GLOBAL READONLY VALUE /
# TRANSACTION / USING DATA PACKAGE)


def test_global_readonly_values_readme_verbatim(spark):
    """`Zero <- 0.` (GLOBAL READONLY VALUE, Kernel/README.md) — a
    constant usable in any expression; rebinding is refused; the
    flush dot after a literal terminates the statement even when the
    NEXT statement starts with an identifier."""
    hql = HeroQL(spark)
    hql.run("""
Zero <- 0.
Limit <- 60.
data Exams(student : string, score : int);
set Exams("alice", 50);
set Exams("bob", 90);
""")
    got = rows(hql.run(
        "query (s) :- Exams(s, sc), sc >= Limit, sc > Zero;").queries[0])
    assert got == [("bob",)]
    with pytest.raises(HeroQLError, match="READONLY"):
        hql.run("Zero <- 1.")
    # constant expressions fold over existing globals
    hql.run("Double <- Limit * 2.")
    assert hql.globals["Double"] == 120
    with pytest.raises(HeroQLError, match="constant"):
        hql.run("Bad <- unknown_thing.")


_NAME_RULE_SETUP = """
Limit <- 60.
Base <- 100.
enum Status = Ok | Bad;
data Exams(student : string, score : int);
set Exams("alice", 50);
set Exams("bob", 90);
data T(x : int);
set T(-1);
set T(5);
set T(70);
data Tagged(st : Status, v : int);
data class Pc(name : string, id : int);
set Pc("a", 1);
set Pc("b", 2);
data Owns(p : Pc, x : int);
set Owns(1, 10);
set Owns(2, 20);
set Owns(3, 30);
data Picked(p : Pc, x : int) where p.name == "a";
"""

_EXAMS = "query (s, sc) :- Exams(s, sc);"
_T = "query (x) :- T(x);"
_OWNS = "query (p, x) :- Owns(p, x);"


@pytest.mark.parametrize("program, query, expect", [
    pytest.param("update Exams(s, sc) :- sc < Limit, sc = Limit;", _EXAMS,
                 [("alice", 60), ("bob", 90)], id="update_global"),
    pytest.param("remove Exams(s, sc) :- sc < Limit;", _EXAMS,
                 [("bob", 90)], id="remove_global"),
    pytest.param('update Exams(s, sc) :- s = $"$(s)!";', _EXAMS,
                 [("alice!", 50), ("bob!", 90)], id="update_interp_string"),
    pytest.param(
        "query Tag(x: int) -> (t: string) :- "
        "t <- if x > 0 then Status.Ok else Status.Bad;",
        "query (x, t) :- T(x), t <- Tag(x);",
        [(-1, "Bad"), (5, "Ok"), (70, "Ok")], id="out_query_enum_member"),
    pytest.param("query Big(x: int) -> (y: int) :- x > Limit, y <- x;",
                 "query (x, y) :- T(x), y <- Big(x);",
                 [(70, 70)], id="out_query_guard_global"),
    pytest.param("query Shift(x: int) -> (y: int) :- y <- x + Base;",
                 "query (x, y) :- T(x), y <- Shift(x);",
                 [(-1, 99), (5, 105), (70, 170)], id="out_query_binding_global"),
    pytest.param('query AddPass(s: string) :- @insert Exams(s, Limit); AddPass("carol");',
                 _EXAMS, [("alice", 50), ("bob", 90), ("carol", 60)],
                 id="procedure_global"),
    pytest.param("query AddOk(v: int) :- @insert Tagged(Status.Ok, v); AddOk(3);",
                 "query (st, v) :- Tagged(st, v);", [("Ok", 3)],
                 id="procedure_enum_member"),
    # a pattern variable named like a global binds the column, not the
    # global: with Limit = 60 both rows would become 61
    pytest.param("update Exams(s, Limit) :- Limit < 80, Limit = Limit + 1;", _EXAMS,
                 [("alice", 51), ("bob", 90)], id="pattern_var_shadows_global"),
    # procedures lower onto set/update/remove, so their expressions
    # are rule expressions
    pytest.param('query Bang(s: string) :- @insert Exams($"$(s)!", 1); Bang("dan");',
                 _EXAMS, [("alice", 50), ("bob", 90), ("dan!", 1)],
                 id="procedure_interp_string"),
    pytest.param("query Clamp(v: int) :- @insert T(if v > 0 then v else 0); Clamp(-5);",
                 _T, [(-1,), (0,), (5,), (70,)], id="procedure_if_then_else"),
    pytest.param("query Add(a: int, b: int) :- @insert T(a + b); Add(3, 1 + 2);",
                 _T, [(-1,), (5,), (6,), (70,)], id="call_argument_expression"),
    pytest.param("set T(1 + 2);", _T, [(-1,), (3,), (5,), (70,)], id="set_expression"),
    # a class-typed pattern variable dereferences; the dangling key 3
    # reads NULL and keeps its row
    pytest.param('update Owns(p, x) :- p.name == "a", x = 1;', _OWNS,
                 [(1, 1), (2, 20), (3, 30)], id="update_deref_pattern_var"),
    pytest.param('remove Owns(p, x) :- p.name == "a";', _OWNS,
                 [(2, 20), (3, 30)], id="remove_deref_pattern_var"),
    pytest.param("""
data class City(name : string, id : int);
set City("X", 1);
data class Pc2(name : string, city : City, id : int);
set Pc2("a", 1, 10);
set Pc2("b", 2, 20);
data Own2(p : Pc2, x : int);
set Own2(10, 1);
set Own2(20, 2);
update Own2(p, x) :- p.city.name == "X", x = 0;
""", "query (p, x) :- Own2(p, x);", [(10, 0), (20, 2)], id="update_deref_two_hops"),
    pytest.param("set Picked(1, 5);", "query (p, x) :- Picked(p, x);",
                 [(1, 5)], id="where_deref_accepts"),
])
def test_every_body_resolves_names_like_rules(spark, program, query, expect):
    """Globals, `Enum.Member` and `$"…"` resolve the same way in
    update/remove, out-query and procedure bodies as in rule bodies:
    local binds, then the frame (pattern variables), then enum members,
    then globals."""
    hql = HeroQL(spark)
    hql.run(_NAME_RULE_SETUP)
    hql.run(program)
    assert rows(hql.run(query).queries[0]) == expect


def test_where_deref_refuses_a_bad_set(spark):
    """A `where` constraint that dereferences a class-typed column
    refuses a row whose referenced instance breaks it."""
    hql = HeroQL(spark)
    hql.run(_NAME_RULE_SETUP)
    with pytest.raises(HeroQLError, match="where"):
        hql.run('set Picked(2, 5); query (p, x) :- Picked(p, x);')


def test_update_may_not_assign_a_declared_unique_key(spark):
    """An in-memory `update` may not assign an `index Unique(k)` key,
    as on snapshot tables: keys identify rows, and assigning one could
    leave two rows with the same key."""
    hql = HeroQL(spark)
    hql.run("data T(k : int, v : int) index Unique(k); set T(1, 1); set T(2, 2);")
    with pytest.raises(HeroQLError, match="key column"):
        hql.run("update T(k, v) :- k == 1, k = 2;")
    assert rows(hql.run("query (k, v) :- T(k, v);").queries[0]) == [(1, 1), (2, 2)]


def test_insert_arity_is_checked_before_the_row_is_buffered(spark):
    """`set` and `@insert` with the wrong number of values fail at the
    statement, with nothing buffered; an `@insert` whose target was
    declared after the procedure fails at the call, inside a
    transaction query's rollback."""
    hql = HeroQL(spark)
    hql.run("data E(s : string, v : int);")
    with pytest.raises(HeroQLError, match="column"):
        hql.run('set E("x");')
    hql.run("""
transaction query Late(s: string) :- @insert E(s, 1), @insert L(s);
data L(s : string, v : int);
""")
    with pytest.raises(HeroQLError, match="column"):
        hql.run('Late("y");')
    assert rows(hql.run("query (s, v) :- E(s, v);").queries[0]) == []


def test_insert_command_arity_is_checked_at_declaration(spark):
    hql = HeroQL(spark)
    hql.run("data E(s : string, v : int);")
    with pytest.raises(HeroQLError, match="column"):
        hql.run("query Short(s: string) :- @insert E(s);")


def test_package_public_visibility(spark):
    """draft:190 'If a database references another database, all
    public symbol is usable' — a package's private members are
    unusable from another package or from outside; public ones work."""
    hql = HeroQL(spark)
    hql.run("""
package Score;
data Exams(student : string, score : int);
query Secret(student : string) -> () :- Exams(student, sc), sc < 0;
public query AddExam(s : string, v : int) :- @insert Exams(s, v);
public query Best(student : string) -> () :- Exams(student, sc), sc >= 90;

package Main using Score;
""")
    # unqualified resolution through `using` requires public
    with pytest.raises(HeroQLError, match="private"):
        hql.run("query (s) :- Secret(s);")
    # explicit qualification is checked the same way
    with pytest.raises(HeroQLError, match="private"):
        hql.run("query (s, v) :- Score::Exams(s, v);")
    hql.run('AddExam("zoe", 95);')
    assert rows(hql.run("query (s) :- Best(s);").queries[0]) == [("zoe",)]


def test_package_instances_new_discard(spark):
    """`Students <- new StudentPackage.` (README verbatim shape):
    instances replay the package's pristine declarations — fresh
    empty tables, isolated from each other and from the package's
    own namespace; `discard` drops the instance wholesale."""
    hql = HeroQL(spark)
    hql.run("""
package StudentPackage;
data Exams(student : string, score : int);
public query AddExam(s : string, v : int) :- @insert Exams(s, v);
public query Scores() -> (student : string, score : int) :- Exams(student, score);

package Main using StudentPackage;
Students <- new StudentPackage.
Backup <- new StudentPackage.
""")
    hql.run('Students::AddExam("alice", 80);')
    assert rows(hql.run("query (s, v) :- Students::Scores(s, v);").queries[0]) == [("alice", 80)]
    assert rows(hql.run("query (s, v) :- Backup::Scores(s, v);").queries[0]) == []
    with pytest.raises(HeroQLError, match="READONLY"):
        hql.run("Students <- new StudentPackage.")
    hql.run("discard Backup;")
    with pytest.raises(HeroQLError):
        hql.run("query (s, v) :- Backup::Scores(s, v);")


def test_package_instance_inherit_merge_conflict(spark):
    """'Instantiate a data package inheriting from another one' +
    'Merge a inheriting data package to its parent' (README USING
    DATA PACKAGE): the fork adopts the parent's data copy-on-write;
    merge pushes child-mutated tables back and cancels when both
    sides mutated one table (rollback-conflicted); discard of a
    parent with live dependents is refused."""
    hql = HeroQL(spark)
    hql.run("""
package P;
data T(k : int, v : int)
    index Unique(k);
public query Add(k : int, v : int) :- @insert T(k, v);
public query Q() -> (k : int, v : int) :- T(k, v);
X <- new P.
""")
    hql.run("X::Add(1, 10);")
    hql.run("Y <- new P from X.")
    with pytest.raises(HeroQLError, match="dependent"):
        hql.run("discard X;")
    hql.run("Y::Add(2, 20);")
    assert rows(hql.run("query (k, v) :- X::Q(k, v);").queries[0]) == [(1, 10)]
    assert rows(hql.run("query (k, v) :- Y::Q(k, v);").queries[0]) == [(1, 10), (2, 20)]
    hql.run("merge Y;")
    assert "Y" not in hql.instances
    assert rows(hql.run("query (k, v) :- X::Q(k, v);").queries[0]) == [(1, 10), (2, 20)]
    # both-sides mutation since the fork cancels
    hql.run("Z <- new P from X.")
    hql.run("Z::Add(3, 30);")
    hql.run("X::Add(4, 40);")
    with pytest.raises(HeroQLError, match="conflict"):
        hql.run("merge Z;")
    hql.run("discard Z;")
    # an independent instance has nothing to merge into
    hql.run("W <- new P.")
    with pytest.raises(HeroQLError, match="independent"):
        hql.run("merge W;")


def test_package_seed_data_replays(spark):
    """A package's `set` statements are part of its installation
    program — every instance starts with the seed rows (draft:189 'an
    installed database with data')."""
    hql = HeroQL(spark)
    hql.run("""
package P;
data Grades(name : string, pts : int);
set Grades("base", 1);
public query Q() -> (name : string, pts : int) :- Grades(name, pts);
A <- new P.
B <- new P.
""")
    assert rows(hql.run("query (n, p) :- A::Q(n, p);").queries[0]) == [("base", 1)]
    assert rows(hql.run("query (n, p) :- B::Q(n, p);").queries[0]) == [("base", 1)]


def test_transaction_query_in_memory_rollback(spark):
    """`transaction query` (README TRANSACTION): the whole mutation
    body applies atomically — a failing later command rolls back the
    earlier ones (here: the second @insert targets an undeclared
    table, and the first @insert must not survive)."""
    hql = HeroQL(spark)
    hql.run("""
data T(k : int, v : int)
    index Unique(k);
transaction query Both(k : int) :-
    @insert T(k, 1),
    @insert Nope(k, 2);
""")
    with pytest.raises(HeroQLError, match="undeclared"):
        hql.run("Both(5);")
    assert rows(hql.run("query (k, v) :- T(k, v);").queries[0]) == []
    # non-transactional classification guard
    with pytest.raises(HeroQLError, match="transactional"):
        hql.run("transaction query NotAMut(x : int) -> (y : int) :- y <- x + 1;")


def test_transaction_query_durable_single_swap(spark, tmp_path):
    """With a bound database, a transaction query commits through ONE
    database pointer swap (both inserts in one db version) and a
    failing body leaves the database version untouched."""
    import os

    from herodb_spark.sources.database import SnapshotDatabase

    db = SnapshotDatabase.create(spark, os.path.join(str(tmp_path), "db"))
    db.create_table(
        "t", spark.createDataFrame([(0, 0)], "k long, v long"), key_cols=["k"]
    )
    db.create_table(
        "u", spark.createDataFrame([(0, 0)], "k long, v long"), key_cols=["k"]
    )
    hql = HeroQL(spark)
    hql.register_database(db)
    hql.run("""
transaction query Pair(k : int) :-
    @insert t(k, 1),
    @insert u(k, 2);
""")
    v0 = db._load()["current"]
    hql.run("Pair(7);")
    m = db._load()
    assert m["current"] == v0 + 1  # ONE pointer swap for both tables
    assert rows(hql.run("query (k, v) :- t(k, v);").queries[0]) == [(0, 0), (7, 1)]
    assert rows(hql.run("query (k, v) :- u(k, v);").queries[0]) == [(0, 0), (7, 2)]


def test_package_graded_leg_matches_oracle(spark, sf_dir, duck):
    res = compare(HQ.heroql_package(spark, sf_dir), HQ.HEROQL_PACKAGE_SQL, duck)
    assert res["ok"], res["detail"]


def test_transaction_rollback_leaves_no_phantom_delta(spark):
    """A rolled-back transaction query must not leave its inserts in
    the monotone delta log: a PRE-transaction memoized rule would
    otherwise fold the phantom rows in on its next incremental
    maintenance pass."""
    hql = HeroQL(spark)
    hql.run("""
data T(k : int, v : int);
data Big(k : int);
Big(k) :- T(k, v), v > 5;
set T(1, 10);
transaction query Both(k : int) :-
    @insert T(k, 9),
    @insert Nope(k, 2);
""")
    assert rows(hql.run("query (k) :- Big(k);").queries[0]) == [(1,)]  # memoize
    with pytest.raises(HeroQLError, match="undeclared"):
        hql.run("Both(2);")
    # incremental maintenance must NOT surface the rolled-back (2, 9)
    assert rows(hql.run("query (k) :- Big(k);").queries[0]) == [(1,)]
    assert rows(hql.run("query (k, v) :- T(k, v);").queries[0]) == [(1, 10)]


def test_package_instance_random_schedules(spark):
    """Randomized instance schedules (fixed seeds): across
    new/fork/mutate/merge/discard sequences, (1) un-merged instances
    stay isolated, (2) a successful merge makes the parent exactly
    parent-rows ∪ child-delta, (3) merge conflicts arise iff both
    sides mutated a table since the fork, and a cancelled merge
    leaves both sides untouched."""
    import random

    hql = HeroQL(spark)
    hql.run("""
package P;
data T(k : int, v : int)
    index Unique(k);
public query Add(k : int, v : int) :- @insert T(k, v);
public query Q() -> (k : int, v : int) :- T(k, v);
Root <- new P.
""")
    model = {"Root": {}}
    parents = {"Root": None}
    nxt = [0]

    def spark_rows(inst):
        return dict(rows(hql.run(f"query (k, v) :- {inst}::Q(k, v);").queries[0]))

    for seed in (1, 7):
        rng = random.Random(seed)
        for _ in range(12):
            live = sorted(model)
            op = rng.choice(["add", "add", "fork", "merge", "discard"])
            if op == "add":
                inst = rng.choice(live)
                k = nxt[0] = nxt[0] + 1
                hql.run(f"{inst}::Add({k}, {k * 10});")
                model[inst][k] = k * 10
            elif op == "fork":
                parent = rng.choice(live)
                name = f"I{seed}_{nxt[0]}_{len(model)}"
                hql.run(f"{name} <- new P from {parent}.")
                model[name] = dict(model[parent])
                parents[name] = (parent, dict(model[parent]))
            elif op == "merge":
                cands = [i for i in live if parents.get(i) and parents[i][0] in model]
                if not cands:
                    continue
                inst = rng.choice(cands)
                parent, fork = parents[inst]
                if any((parents.get(o) or (None,))[0] == inst for o in model):
                    continue  # keep the schedule simple: no mid-chain merges
                both = model[inst] != fork and model[parent] != fork
                if both:
                    with pytest.raises(HeroQLError, match="conflict"):
                        hql.run(f"merge {inst};")
                    assert spark_rows(inst) == model[inst]
                    assert spark_rows(parent) == model[parent]
                else:
                    hql.run(f"merge {inst};")
                    if model[inst] != fork:
                        model[parent] = model[inst]
                    del model[inst]
                    del parents[inst]
                    assert spark_rows(parent) == model[parent]
            else:  # discard
                cands = [
                    i for i in live
                    if i != "Root"
                    and not any((parents.get(o) or (None,))[0] == i for o in model)
                ]
                if not cands:
                    continue
                inst = rng.choice(cands)
                hql.run(f"discard {inst};")
                del model[inst]
                del parents[inst]
        # end-of-seed audit: every live instance matches its model
        for inst in sorted(model):
            assert spark_rows(inst) == model[inst], inst


def test_at_query_memo_sees_later_inserts(spark):
    """An @-relational query's memo is NON-monotone (ranks and
    aggregates shift under pure inserts): evaluating it, then
    `set`-ing / procedure-inserting more rows, then evaluating again
    must reflect the new rows — both for a buffered unflushed set and
    for a flushed monotone insert (regression: the memo was served
    stale past both)."""
    hql = HeroQL(spark)
    hql.run("""
data Exams(student: string, score: int);
set Exams("a", 10);
query Top2() -> (student: string, score: int)
:-	Exams(student, score),
	order <- @order_by_desc(score),
	order < 2
.
query AddExam(student: string, score: int) :- @insert Exams(student, score);
""")
    assert rows(hql.run("query (s, v) :- Top2(s, v);").queries[0]) == [("a", 10)]
    hql.run('AddExam("b", 99);')  # procedure insert (buffers, flushes)
    assert rows(hql.run("query (s, v) :- Top2(s, v);").queries[0]) == [
        ("a", 10), ("b", 99)
    ]
    hql.run('set Exams("c", 50);')  # plain buffered set, no flush yet
    assert rows(hql.run("query (s, v) :- Top2(s, v);").queries[0]) == [
        ("b", 99), ("c", 50)
    ]
