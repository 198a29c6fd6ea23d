package graft

import java.io.File
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the query builders' defaulted parameters. A `q…` builder or oracle
  * in the query modules may expose a parameter only if some caller sets it;
  * every other value is one constant that the Spark arm and its oracle both
  * read. Scala compiles each default value into a `<method>$default$<N>`
  * method (N counts every parameter from 1), so reflecting over the module
  * classes lists the defaults that exist. Each allowlist entry names the
  * caller that sets the parameter. */
class QueryKnobSpec extends AnyFunSuite {

  private val packages = Seq("graft/ops", "graft/streaming", "graft/sources", "graft/plans")

  private val allowed: Map[String, String] = Map(
    "Affinity.qAffinityProp$default$2" -> "n: qAffinityPropSmall (q183)",
    "Affinity.qAffinityPropSql$default$1" -> "n: SparkEntry.oracleSql q183",
    "Affinity.qAgglomerative$default$2" -> "n: qAgglomerativeSmall (q184)",
    "Affinity.qAgglomerative$default$3" -> "k: qAgglomerativeSmall (q184)",
    "Affinity.qAgglomerativeSql$default$1" -> "n: SparkEntry.oracleSql q184",
    "Affinity.qAgglomerativeSql$default$2" -> "k: SparkEntry.oracleSql q184",
    "Clustering.qKmeansStep$default$2" -> "updates: ClusteringSpec",
    "Dedup.qGovernedFuzzy$default$2" -> "cap: DedupSpec",
    "Dedup.qGovernedPairs$default$2" -> "cap: DedupSpec",
    "Dedup.qSimhashGate$default$2" -> "maxHamming: DedupSpec",
    "EventAnalytics.qCmsFreq$default$2" -> "w: SketchSpec",
    "EventAnalytics.qCmsFreq$default$3" -> "topK: SketchSpec",
    "EventAnalytics.qPseudonymize$default$2" -> "salt: EventAnalyticsSpec",
    "Relational.qIncrementalAgg$default$2" -> "splitDate: ProfilingSpec",
    "TextAnalysis.qDataDiet$default$2" -> "keepPct: QualityPipelineSpec",
    "TextAnalysis.qDupSpans$default$2" -> "w: SuffixArraySpec",
    "TextAnalysis.qDupSpans$default$3" -> "minDocs: SuffixArraySpec",
    "TextAnalysis.qUncertaintySampling$default$2" -> "k: QualityPipelineSpec",
  )

  /** The top-level objects of the query packages, by simple name. */
  private def modules: Seq[Class[_]] = packages.flatMap { pkg =>
    getClass.getClassLoader.getResources(pkg).asScala.toSeq.flatMap { url =>
      Option(new File(url.toURI).listFiles()).toSeq.flatten.map(_.getName)
        .collect { case n if n.matches("[A-Za-z0-9]+\\$\\.class") =>
          Class.forName(pkg.replace('/', '.') + "." + n.stripSuffix(".class"))
        }
    }
  }

  test("every defaulted query parameter is one some caller sets") {
    val ms = modules
    assert(ms.map(_.getSimpleName).contains("TextAnalysis$"), s"modules: $ms")
    val defaults = ms.flatMap { m =>
      m.getDeclaredMethods.toSeq.map(_.getName)
        .filter(_.matches("q\\w*\\$default\\$\\d+"))
        .map(n => m.getSimpleName.stripSuffix("$") + "." + n)
    }.toSet
    val extra = defaults -- allowed.keySet
    val gone = allowed.keySet -- defaults
    assert(extra.isEmpty, s"defaults no caller sets: ${extra.toSeq.sorted.mkString(", ")}")
    assert(gone.isEmpty, s"allowlist entries without a default: ${gone.toSeq.sorted.mkString(", ")}")
  }
}
