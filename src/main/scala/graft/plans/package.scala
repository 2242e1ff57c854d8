package graft

/** Custom Catalyst plans — intentionally EMPTY.
  *
  * The build brief's preference order for operators Spark lacks is:
  * (a) compose built-ins, (b) custom `Expression`, (c) custom
  * `LogicalPlan`+`Rule`+`SparkStrategy`+`SparkPlan`, (d) `mapPartitions`.
  *
  * Every operator in this engine — the reference's full inventory
  * (SURVEY.md §2) and the training-data extensions — lands on (a), with
  * deliberate exceptions further down the ladder:
  *
  *  - `graft.functions.TopKAgg`: a typed `Aggregator` (the sanctioned
  *    custom-aggregation surface) where built-ins cost O(group) memory;
  *  - the other `graft.functions` classes, custom expressions (b) where a
  *    JVM routine over one value replaces an expression composition — the
  *    blob parsers (`MediaParse`, the `Png`/`Jpeg` pixel decoders
  *    included) among them.
  *
  * Even the as-of join — the textbook "Spark can't express this" case —
  * composes as union + sort + last(ignoreNulls) window
  * (`graft.operators.AsOfJoin`) with the same physical shape a bespoke
  * `SparkPlan` would produce (one keyed shuffle + sort), so a custom node
  * would add maintenance surface without a plan-shape win. The trade-offs
  * are recorded in SCALING.md ("What we deliberately did NOT build"); if a
  * future operator genuinely needs (b) or (c) — e.g. a fused range-join or
  * a native sketch exchange — it belongs in this package.
  */
package object plans
