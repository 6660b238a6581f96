package perfbench

import graft.core.{Analyzer, State, StateLoader, StatePersister}
import graft.repository.{AnalysisResult, MetricsRepository, MetricsRepositoryMultipleResultsLoader, ResultKey}
import graft.runners.AnalyzerContext

/** Times every call into a state provider through the public
  * `StateLoader`/`StatePersister` traits: the `core.state_*` spans.
  */
final class TimedStateProvider(inner: StateLoader with StatePersister, tracer: Tracer)
    extends StateLoader with StatePersister {

  override def load[S <: State[_]](analyzer: Analyzer[S, _]): Option[S] =
    tracer.span("core.state_load", "core.state_loads")(inner.load(analyzer))

  override def persist[S <: State[_]](analyzer: Analyzer[S, _], state: S): Unit =
    tracer.span("core.state_persist", "core.state_persists")(inner.persist(analyzer, state))
}

/** Times every call into a metrics repository through the public
  * `MetricsRepository` trait: the `repository.*` spans. A history query
  * counts as a load when its `get()` runs.
  */
final class TimedRepository(inner: MetricsRepository, tracer: Tracer) extends MetricsRepository {

  override def save(resultKey: ResultKey, analyzerContext: AnalyzerContext): Unit =
    tracer.span("repository.save", "repository.saves")(inner.save(resultKey, analyzerContext))

  override def loadByKey(resultKey: ResultKey): Option[AnalyzerContext] =
    tracer.span("repository.load", "repository.loads")(inner.loadByKey(resultKey))

  override def load(): MetricsRepositoryMultipleResultsLoader = new TimedLoader(inner.load())

  private final class TimedLoader(l: MetricsRepositoryMultipleResultsLoader)
      extends MetricsRepositoryMultipleResultsLoader {
    override def withTagValues(t: Map[String, String]) = new TimedLoader(l.withTagValues(t))
    override def forAnalyzers(a: Seq[graft.core.AnyAnalyzer]) = new TimedLoader(l.forAnalyzers(a))
    override def after(d: Long) = new TimedLoader(l.after(d))
    override def before(d: Long) = new TimedLoader(l.before(d))
    override def get(): Seq[AnalysisResult] =
      tracer.span("repository.load", "repository.loads")(l.get())
  }
}
