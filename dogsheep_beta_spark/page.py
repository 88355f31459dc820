"""Full-page assembly — the driver-side twin of the reference's
``/-/beta`` page (reference ``__init__.py:55-108`` +
``templates/beta.html``), minus the HTTP server by design (SURVEY
§7.0).

``page_context`` runs ONE compiled request off a single filtered set
(collapsing the reference's dual execution path, __init__.py:85-86):
the top-k results, then the count and all four facets from ONE
grouping-sets aggregate, collected inside ``build_page_facets``.  It
hydrates and renders the ≤100 result rows, and builds the template
context the reference hands to beta.html: ``q / count / results /
facets / hiddens / sorted_by / other_sort_orders``
(__init__.py:94-108).  ``render_page`` renders the
beta.html structure (search form with hidden-field preservation,
facet sidebar with toggle_url/selected, sort links, intcomma'd count
— templates/beta.html:41-89) as a standalone HTML document.

Everything else here is presentation over collected rows and ≤30-value
facet lists: plain driver-side Python, zero Spark jobs beyond the
request plan itself.  The reference's golden page assertions
(reference tests/test_plugin.py:45-108, 119-230) are ported against
this output in tests/test_page.py.
"""

from __future__ import annotations

from urllib.parse import urlencode

from pyspark.sql import DataFrame, SparkSession

from dogsheep_beta_spark.presentation import intcomma, process_results
from dogsheep_beta_spark.schema import CATEGORIES

FILTER_COLS = ("type", "category", "is_public")  # __init__.py:44
SORT_ORDERS = ("relevance", "newest", "oldest")  # __init__.py:45-48,69

# Mirror of templates/beta.html's content block (form 41-50, count +
# sort links 52-57, facet sidebar 59-81, results 83-89), as a
# standalone document.  The style/leaflet blocks are cosmetic and
# dropped; every structural element and class the reference's golden
# tests inspect is preserved verbatim.
PAGE_TEMPLATE = """\
<!DOCTYPE html>
<html><head><title>Dogsheep Beta{% if q %}: {{ q }}{% endif %}</title></head>
<body>
<h1>Dogsheep Beta{% if q %}: {{ q }}{% endif %}</h1>

<form action="/-/beta" method="get"><div>
    <input type="search" name="q" value="{{ q }}" id="q">
    {% if sorted_by != "relevance" %}
        <input type="hidden" name="sort" value="{{ sorted_by }}">
    {% endif %}
    <input type="submit" value="Search">
    {% for hidden in hiddens %}
        <input type="hidden" name="{{ hidden.name }}" value="{{ hidden.value }}">
    {% endfor %}
</div></form>

<p>Got {{ intcomma(count) }} result{% if count != 1 %}s{% endif %}, sorted by
    <strong>{{ sorted_by }}</strong> /
    {% for other_sort_order in other_sort_orders %}
        <a href="{{ other_sort_order.url }}">{{ other_sort_order.label }}</a>{% if not loop.last %} / {% endif %}
    {% endfor %}
</p>

<aside>
{% if facets %}
    {% for facet in facets %}
        {% if facet.results %}
            <div class="facet">
                <h2>{{ facet.name }}</h2>
                <ul>
                {% for item in facet.results %}
                    <li{% if item.selected %} class="selected"{% endif %}>
                        {% if item.selected %}
                            <span class="label">{{ item.label }}</span> <a href="{{ item.toggle_url }}" class="x">✖</a>
                        {% else %}
                        <a href="{{ item.toggle_url }}" class="label">{{ item.label }}</a>
                        {% endif %}
                        - <span class="count">{{ intcomma(item.count) }}</span>
                    </li>
                {% endfor %}
                </ul>
            </div>
        {% endif %}
    {% endfor %}
{% endif %}
</aside>

<section class="results">
{% for result in results %}
    <div class="result" data-table-key="{{ result.type }}:{{ result.key }}">
        {{ result.output|safe }}
    </div>
{% endfor %}
</section>
</body></html>
"""


def pick_sort(args: dict, q: str) -> str:
    """``sorted_by`` label: relevance with q, newest without, explicit
    ``sort=`` overrides (__init__.py:64-67)."""
    sorted_by = "relevance" if q else "newest"
    if args.get("sort") in ("newest", "oldest"):
        sorted_by = args["sort"]
    return sorted_by


def other_sort_links(args: dict, q: str, sorted_by: str) -> list[dict]:
    """Alternate-sort links (__init__.py:68-79): every non-current sort
    order, relevance omitted in timeline mode; the relevance link DROPS
    the sort param (path_with_removed_args), the others replace it."""
    out = []
    for so in SORT_ORDERS:
        if not q and so == "relevance":
            continue
        if so == sorted_by:
            continue
        qs = [(k, v) for k, v in args.items() if k != "sort"]
        if so != "relevance":
            qs.append(("sort", so))
        out.append({"label": so, "url": "?" + urlencode(qs)})
    return out


def toggle_url(column: str, value: str, selected: bool, args: dict, q: str) -> str:
    """Facet-value toggle link (__init__.py:246-257): active filters
    carried over (replace semantics on the toggled column), the value
    added when unselected / dropped when selected, ``q`` appended LAST
    — the reference strips Datasette's ``_``-params and re-appends q,
    which puts it at the tail of every toggle_url (golden-pinned,
    reference tests/test_plugin.py:52,97)."""
    pairs = []
    for k in ("timestamp__date", *FILTER_COLS):
        if k in args and k != column:
            pairs.append((k, args[k]))
    if not selected:
        pairs.append((column, value))
    pairs.append(("q", q))
    return "?" + urlencode(pairs)


def build_page_facets(res, args: dict, q: str) -> list[dict]:
    """The four facet blocks in reference order (type, category,
    is_public, timestamp date — __init__.py:202-203), each value with
    label / count / selected / toggle_url.

    ``res`` is the request's ``QueryResult``: reading ``res.facets``
    here runs its one count + facets aggregate, so this call carries
    the request's whole aggregate cost and the caller reads the count
    from the same memoized result.

    Labels: ``category`` is FK-expanded to its dimension name (C4 —
    Datasette renders ``created``, not ``1``; golden test_plugin.py:70);
    the date facet labels/filters as ``YYYY-MM-DD`` under the
    ``timestamp__date`` arg.  NULL facet values are excluded before the
    top-k cut, matching Datasette's ColumnFacet/DateFacet."""
    cat_names = {c["id"]: c["name"] for c in CATEGORIES}
    out = []
    for name, pairs in res.facets.columns.items():
        results = []
        for value, count in pairs:
            if name == "timestamp":
                column = "timestamp__date"
                sval = label = value.isoformat()
            else:
                column = name
                sval = str(value)
                label = cat_names.get(value, sval) if name == "category" else sval
            selected = args.get(column) == sval
            results.append(
                {
                    "value": sval,
                    "label": label,
                    "count": count,
                    "selected": selected,
                    "toggle_url": toggle_url(column, sval, selected, args, q),
                }
            )
        out.append({"name": name, "results": results})
    return out


def rules_templates(rules: dict) -> tuple[dict, dict]:
    """(display templates, display_sqls) keyed by full type tag —
    the per-(db, rule) lookup the reference does at render time
    (__init__.py:149-168)."""
    templates, display_sqls = {}, {}
    for db, rule_set in rules.items():
        for rule_name, spec in rule_set.items():
            tag = f"{db}/{rule_name}"
            if spec.get("display"):
                templates[tag] = spec["display"]
            if spec.get("display_sql"):
                display_sqls[tag] = spec["display_sql"]
    return templates, display_sqls


def page_context(
    spark: SparkSession,
    index_df: DataFrame,
    fts,
    args: dict,
    rules: dict | None = None,
    template_debug: bool = False,
    facet_size: int = 30,
) -> dict:
    """Run one full request and build the beta.html template context.

    One compiled plan supplies results, count and all four facets from
    the SAME filtered set (the engine's fix for the reference's dual
    search/facet execution, SURVEY §3.3); the count and the facets are
    one aggregate; hydration is the batched display_sql join (C3),
    rendering the per-type Jinja pass (J1).
    """
    from dogsheep_beta_spark.plans.hydrate import hydrate_results
    from dogsheep_beta_spark.plans.query import QueryPlan
    from dogsheep_beta_spark.plans.search import search_query

    q = (args.get("q") or "").strip()
    sorted_by = pick_sort(args, q)
    plan = QueryPlan(
        q=q or None,
        sort=args.get("sort") if args.get("sort") in ("newest", "oldest") else None,
        type=args.get("type"),
        category=args.get("category"),
        is_public=args.get("is_public"),
        date=args.get("timestamp__date"),
    )
    # compile_plan persists the filtered set for the request (SURVEY
    # §7.5); the context manager is the teardown.
    with search_query(index_df, fts, plan, facet_size=facet_size) as res:
        rows = [r.asDict() for r in res.results.collect()]
        facets = build_page_facets(res, args, q)
        count = res.facets.count
    templates, display_sqls = rules_templates(rules or {})
    # q binds as the EMPTY STRING in timeline mode — the reference's
    # display_sql :q param is always present (__init__.py:123,161-168)
    rows = hydrate_results(spark, rows, display_sqls, q=q)
    results = process_results(rows, templates, template_debug)
    hiddens = [
        {"name": c, "value": args[c]} for c in FILTER_COLS if c in args
    ]
    return {
        "q": q,
        "count": count,
        "results": results,
        "facets": facets,
        "hiddens": hiddens,
        "sorted_by": sorted_by,
        "other_sort_orders": other_sort_links(args, q, sorted_by),
    }


_COMPILED_TEMPLATE = None


def render_page(context: dict) -> str:
    """Render the beta.html structure from a ``page_context`` dict.
    The constant template compiles ONCE per process (serve mode calls
    this per request; jinja2 compiled templates are thread-safe)."""
    global _COMPILED_TEMPLATE
    if _COMPILED_TEMPLATE is None:
        import jinja2

        env = jinja2.Environment(autoescape=True)
        _COMPILED_TEMPLATE = env.from_string(PAGE_TEMPLATE)
    return _COMPILED_TEMPLATE.render({**context, "intcomma": intcomma})


def beta_page(
    spark: SparkSession,
    index_df: DataFrame,
    fts,
    args: dict,
    rules: dict | None = None,
    template_debug: bool = False,
) -> str:
    """One call = one reference page request: args dict in, HTML out."""
    return render_page(
        page_context(spark, index_df, fts, args, rules, template_debug)
    )
